package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.ops.Retrieval

/** graft's `file:` file system sets the same modes as Hadoop's shell
  * path, without starting a process, and a factory session serves it. */
class LocalFileSystemSpec extends SparkSpec {

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val graftRaw = initialized(new LocalFileSystem.Raw)
  private lazy val hadoopRaw = initialized(new RawLocalFileSystem)

  private def withTempDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-fs-spec")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** The full mode word, sticky bit included (NIO's POSIX view has no
    * sticky bit). */
  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the modes Hadoop's shell path leaves") {
    withTempDir { dir =>
      for (mode <- Seq("0000", "0600", "0640", "0644", "0700", "0750", "0755", "0777")) {
        val (ours, theirs) = (dir.resolve(s"graft-$mode"), dir.resolve(s"hadoop-$mode"))
        Seq(ours, theirs).foreach(Files.createFile(_))
        graftRaw.setPermission(new Path(ours.toUri), new FsPermission(mode))
        hadoopRaw.setPermission(new Path(theirs.toUri), new FsPermission(mode))
        assert(Files.getPosixFilePermissions(ours) == Files.getPosixFilePermissions(theirs), mode)
        assert(unixMode(ours) == Integer.parseInt(mode, 8), mode)
      }
    }
  }

  test("a sticky directory mode goes through Hadoop's fallback") {
    withTempDir { dir =>
      val (ours, theirs) = (dir.resolve("graft"), dir.resolve("hadoop"))
      Seq(ours, theirs).foreach(Files.createDirectory(_))
      graftRaw.setPermission(new Path(ours.toUri), new FsPermission("1777"))
      hadoopRaw.setPermission(new Path(theirs.toUri), new FsPermission("1777"))
      assert(unixMode(ours) == Integer.parseInt("1777", 8))
      assert(unixMode(ours) == unixMode(theirs))
    }
  }

  test("a factory session serves file: with graft's file system") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[LocalFileSystem.Raw])
  }

  test("a bm25 index build starts no chmod process") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"doc $i about term$i and term${i % 7}"))
      .toDF("id", "text")
    withTempDir { dir =>
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try Retrieval.buildBm25Index(docs, "id", "text", dir.resolve("index").toString)
      finally rec.stop()
      val dump = dir.resolve("build.jfr")
      rec.dump(dump)
      rec.close()
      val chmods = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).filter(_.startsWith("chmod"))
      // the build did write its buckets: the check is not vacuous
      assert(Files.list(dir.resolve("index/postings")).iterator.asScala
        .count(_.getFileName.toString.startsWith("bucket=")) > 1)
      assert(chmods.isEmpty, s"${chmods.size} chmod starts, the first: ${chmods.headOption}")
    }
  }
}
