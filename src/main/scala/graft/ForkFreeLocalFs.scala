package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that does not start a process per file.
  *
  * Without Hadoop's native library, the stock class runs `chmod` in a
  * child process from `setPermission`, which every file, `.crc` sibling
  * and directory it creates goes through, and runs `readlink` from
  * `getFileLinkStatus`, which every `FileContext` rename calls on source,
  * destination and parent. On a partitioned sink writing ~170 files per
  * task those forks were most of the task's wall time. Here the rwx bits
  * are set with `java.nio` and only real symlinks reach `readlink`; the
  * resulting modes and statuses are the stock ones. A chmod of a missing
  * path throws `FileNotFoundException` where the stock class throws its
  * shell's exit-code `IOException`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // NIO's permission set has no sticky bit: leave such modes to chmod.
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // others rwx: ordinal i is mode bit 8 - i.
      PosixFilePermission.values.foreach { bit =>
        if ((mode & (0x100 >> bit.ordinal)) != 0) perms.add(bit)
      }
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, perms)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist") }
    }
  }

  /** The parent resolves a link by running `readlink` on the literal
    * `f.toString`, so probe that same path: where it is not a link the
    * parent's answer is exactly `getFileStatus(f)`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed `file:` filesystem over [[ForkFreeRawLocalFileSystem]]:
  * the `fs.file.impl` that `GraftSession.builder` sets. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {

  /** A rename onto an existing file fails, as Hadoop's filesystem
    * contract specifies and as the `file:` class otherwise resolved on
    * Spark's classpath (Hive's `ProxyLocalFileSystem`) does; plain
    * `LocalFileSystem` would overwrite. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** `FileContext` binding of [[ForkFreeRawLocalFileSystem]], mirroring
  * Hadoop's `RawLocalFs` (whose constructors are package-private). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Checksummed `FileContext` filesystem: the
  * `fs.AbstractFileSystem.file.impl` that `GraftSession.builder` sets,
  * used by streaming checkpoint logs. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
