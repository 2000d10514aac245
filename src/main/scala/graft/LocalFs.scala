package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its shell commands. With no
  * native Hadoop library, the stock class forks `chmod` for every file
  * and dir it creates with a permission, and `readlink` for every link
  * status a `FileContext` takes (each checkpoint offset, commit and
  * state-store delta of a streaming twin). Here both are JDK calls.
  * Anything outside them defers to the stock code: a mode with bits
  * above 0777 (sticky, setuid) and the status of a real symlink. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val mode = perm.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, perm)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermission.values.filter(b =>
        (mode & (1 << (8 - b.ordinal))) != 0).toSet.asJava)
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the stock checksummed local file system (same `.crc`
  * files, same layout) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side of [[NioRawLocalFileSystem]], with the
  * overrides of Hadoop's `RawLocalFs` (whose constructor is not public). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` file
  * system Spark's streaming checkpoints write through. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
