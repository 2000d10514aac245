package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingBatch

/** The engine's local file system (graft.LocalFs) answers as Hadoop's
  * stock raw local file system does, the engine's sessions run it for both
  * Hadoop file system APIs, and a streaming twin and a pipeline run start
  * no `chmod`, `readlink`, `ls` or `stat` process. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fixture = "/root/testdata/sf0.001"
  private val root = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }

  /** What a caller reads off a link status, or the exception it throws. */
  private def linkStatus(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
    try {
      val s: FileStatus = fs.getFileLinkStatus(p)
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else None, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("link status: parity with the stock raw local file system on a " +
       "file, a dir, a symlink, a dangling symlink and a missing path") {
    val d = TestFixtures.tempDir("graft_localfs")
    val file = Files.write(d.resolve("f.txt"), "abc".getBytes)
    val dir = Files.createDirectory(d.resolve("sub"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling =
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val missing = d.resolve("missing")
    val (stock, nio) =
      (raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem))
    for (p <- Seq(file, dir, link, dangling, missing);
         // the bare path and the qualified file: URI a FileContext passes
         hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(linkStatus(nio, hp) === linkStatus(stock, hp), hp)
    }
    assert(linkStatus(nio, new Path(link.toString))
      .exists(_(3) == true), "a symlink must read as a symlink")
    assert(linkStatus(nio, new Path(missing.toString)) ===
      Left(classOf[FileNotFoundException].getName))
  }

  test("setPermission: the same on-disk mode as the stock file system at " +
       "0644, 0755, 0700 and 01777 (the stock path)") {
    val d = TestFixtures.tempDir("graft_localfs_perm")
    val (stock, nio) =
      (raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem))
    for (m <- Seq(0x1a4, 0x1ed, 0x1c0, 0x3ff); kind <- Seq("file", "dir")) {
      val paths = Seq("stock", "nio").map { n =>
        val p = d.resolve(s"$kind-$n-${m.toOctalString}")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
      }
      Seq(stock, nio).zip(paths).foreach { case (fs, p) =>
        fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
      }
      assert(mode(paths(1)) === mode(paths(0)), s"$kind ${m.toOctalString}")
      assert(mode(paths(1)) === m, s"$kind ${m.toOctalString}")
    }
  }

  test("wiring: the engine's session settings make both Hadoop file " +
       "system APIs resolve file: to the graft classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    // FileSystem's cache is keyed by scheme and user, not by the conf: this
    // holds only if the first file: lookup in the JVM saw the settings
    assert(FileSystem.get(root, hc).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.get(root, spark.sessionState.newHadoopConf())
      .getClass === classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(root, hc).getClass === classOf[NioLocalFs])
  }

  test("no forks: a streaming_quota run and a pipeline run start no " +
       "chmod, readlink, ls or stat process") {
    assert(Files.isRegularFile(java.nio.file.Paths.get(fixture,
      "events.parquet")), s"fixture $fixture is missing")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      assert(StreamingBatch.streamingQuota(spark, fixture).collect().nonEmpty)
      Pipeline.run(spark, fixture,
        TestFixtures.tempDir("graft_localfs_pipe").toString,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    } finally rec.stop()
    val out = TestFixtures.tempDir("graft_localfs_jfr").resolve("fork.jfr")
    rec.dump(out)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
      .map(_.getString("command")).toSeq
    val shell = commands.filter(c =>
      Set("chmod", "readlink", "ls", "stat").contains(
        c.trim.split("\\s+").head.split('/').last))
    assert(shell.size === 0,
      s"shell forks, e.g. ${shell.take(3).mkString("; ")}")
  }
}
