package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.security.PrivilegedExceptionAction

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkSessionFixture}
import graft.sources.JsonFileSource
import graft.table.GraftTable

/** The graft.fs local file system: the engine's own file work starts no
  * process, and what it writes is what stock Hadoop writes. */
class NioLocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val fileUri = URI.create("file:///")

  test("table writes, maintenance and a stream drain start no Hadoop shell process") {
    val s = spark
    import s.implicits._
    assert(FileSystem.get(fileUri, s.sparkContext.hadoopConfiguration)
      .asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NioRawLocalFileSystem])
    // Shell's static initializer probes for setsid with one process per
    // JVM; the check below is about processes per operation
    Class.forName("org.apache.hadoop.util.Shell")
    val root = Files.createTempDirectory("graft_spawns")
    val src = Files.createDirectories(root.resolve("src"))
    (0 until 4).foreach { f =>
      Files.writeString(src.resolve(s"part-$f.json"), (0 until 20).map(i =>
        s"""{"name":"n$f-$i","count":${f * 100 + i}}""").mkString("\n"))
    }
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      val t = GraftTable.createOrReplace(s, root.resolve("tbl").toString)
      t.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("name", "count"), statsCols = Seq("count"))
      t.append(Seq(("d", 4), ("e", 5)).toDF("name", "count"), statsCols = Seq("count"))
      t.delete(Seq("b").toDF("name"), Seq("name"))
      t.compactSmall(128L * 1024 * 1024)
      t.checkpointMetadata()
      JsonFileSource(src.toString, "name STRING, count INT").load(s)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => t.append(b); () }
        .start()
        .awaitTermination()
      assert(t.read().count() == 84)
    } finally rec.stop()
    val jfr = root.resolve("spawns.jfr")
    rec.dump(jfr)
    rec.close()
    val viaShell = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
    }
    assert(viaShell.isEmpty,
      s"${viaShell.size} processes started through Hadoop's Shell, e.g. " +
        viaShell.take(5).map(_.getString("command")).mkString("; "))
  }

  private def fsPair(umask: String): Seq[RawLocalFileSystem] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map { fs =>
      fs.initialize(fileUri, conf); fs
    }
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  test("files and directories get the modes stock RawLocalFileSystem gives them") {
    for (umask <- Seq("022", "027", "077")) {
      val modes = fsPair(umask).map { fs =>
        val d = Files.createTempDirectory("graft_modes")
        def at(n: String) = new Path(d.resolve(n).toString)
        fs.create(at("f")).close()
        fs.mkdirs(at("a/b"))
        fs.mkdirs(at("p"), new FsPermission("750"))
        fs.create(at("q"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(at("s"))
        fs.setPermission(at("s"), new FsPermission("1777"))
        Seq("f", "a", "a/b", "p", "q", "s").map(n => n -> mode(d.resolve(n)))
      }
      assert(modes(1) == modes(0), s"umask $umask")
    }
  }

  test("the checksummed file system still writes .crc sidecars") {
    val fs = new NioLocalFileSystem
    fs.initialize(fileUri, new Configuration())
    val d = Files.createTempDirectory("graft_crc")
    val out = fs.create(new Path(d.resolve("x").toString))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    assert(Files.exists(d.resolve(".x.crc")))
  }

  test("symlinks and missing paths report as with stock RawLocalFileSystem") {
    val d = Files.createTempDirectory("graft_links")
    val target = Files.writeString(d.resolve("target"), "x")
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val Seq(stock, nio) = fsPair("022").map(_.getFileLinkStatus(new Path(link.toString)))
    assert(nio.isSymlink)
    assert(nio.getSymlink == new Path(fileUri.getScheme, null, target.toString))
    assert(nio.getSymlink == stock.getSymlink)
    val plain = fsPair("022")(1).getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 1)
    for (fs <- fsPair("022")) {
      val missing = new Path(d.resolve("missing").toString)
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
    }
  }

  test("attach: FileContext opens graft.fs at once; a cached local FileSystem keeps its class") {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val saved = keys.map(k => k -> hc.get(k))
    // a user of its own gives a FileSystem cache entry of its own
    val ugi = UserGroupInformation.createRemoteUser("graft-attach-spec")
    def asUser[T](f: => T): T = ugi.doAs(new PrivilegedExceptionAction[T] { def run(): T = f })
    def fcClass = FileContext.getFileContext(fileUri, hc).getDefaultFileSystem.getClass
    try {
      hc.set("fs.file.impl", classOf[LocalFileSystem].getName)
      hc.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
      val cached = asUser(FileSystem.get(fileUri, hc))
      assert(cached.getClass == classOf[LocalFileSystem])
      assert(fcClass == classOf[LocalFs])
      GraftSession.attach(spark.newSession())
      assert(keys.map(hc.get) == saved.map(_._2))
      assert(fcClass == classOf[NioLocalFs])
      assert(asUser(FileSystem.get(fileUri, hc)) eq cached)
      val uncached = asUser(FileSystem.newInstance(fileUri, hc))
      try assert(uncached.getClass == classOf[NioLocalFileSystem]) finally uncached.close()
    } finally {
      saved.foreach { case (k, v) => hc.set(k, v) }
      FileSystem.closeAllForUGI(ugi)
    }
  }
}
