package graft.fs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system with file modes set inside the JVM.
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every file and directory it writes — a
  * 256-bucket partitioned index write starts hundreds of them. Only
  * `setPermission` differs; reads, writes and the checksum layer are
  * Hadoop's own. [[graft.Sessions]] serves `file:` with this class. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new LocalFileSystem.Raw)

object LocalFileSystem {

  /** Sets the nine rwx bits with one `chmod` syscall from the JVM. What
    * NIO cannot express — a sticky bit, or a file system without POSIX
    * modes — takes Hadoop's own path, so every mode comes out as
    * Hadoop's would. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The rwx bits of `mode` (0400 down to 0001, the enum's own order). */
  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(bit)
    }
    set
  }
}
