package graft.core

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` with its process spawns replaced by
  * `java.nio` calls. Without the native Hadoop library, the stock class
  * runs `chmod` for every `setPermission` (so for every file create and
  * every `mkdirs` with a permission) and `readlink` for every
  * `getFileLinkStatus` (so twice for every FileContext rename). This
  * class replaces exactly those two calls:
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`; a sticky bit, or a filesystem
  *    without a POSIX attribute view, goes to the stock `chmod`.
  *  - `getFileLinkStatus` asks `Files.isSymbolicLink` on the same
  *    `new File(path.toString)` the stock `readlink` reads. A path that
  *    is not a symlink gets `getFileStatus`, as stock does; a symlink
  *    goes to the stock code, target included.
  *
  * Everything else is the stock class: statuses stay lazy, renames and
  * their `FileAlreadyExistsException` are unchanged. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, ForkFreeLocalFs.posix(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $file does not exist")
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (ForkFreeLocalFs.mayBeSymlink(f)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over
  * [[ForkFreeRawLocalFileSystem]]: `.crc` files are still written.
  *
  * Without this binding, Spark's jar set resolves `file:` to Hive's
  * `ProxyLocalFileSystem` (hive-exec registers it through ServiceLoader),
  * a `LocalFileSystem` whose `rename` returns false when the destination
  * is an existing file instead of replacing it. The engine's
  * rename-as-commit code (`require(fs.rename(..))`) was written against
  * that, so the same guard is kept here. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** FileContext binding of [[ForkFreeRawLocalFileSystem]]. Hadoop's
  * `RawLocalFs` hard-codes a stock delegate, so its overrides are
  * repeated here. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` FileContext filesystem
  * (`fs.AbstractFileSystem.file.impl`); like Hadoop's `LocalFs` it
  * always binds `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object ForkFreeLocalFs {

  /** Hadoop config keys binding `file:` to the adapter, as the
    * `spark.hadoop.`-prefixed session settings. */
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The nine rwx bits of `mode` (PosixFilePermission's declaration
    * order is owner, group, others, each read, write, execute). */
  private[core] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }

  /** False only when the path the stock `readlink` would read is
    * certainly not a symlink. */
  private[core] def mayBeSymlink(f: Path): Boolean =
    try Files.isSymbolicLink(new File(f.toString).toPath)
    catch { case _: InvalidPathException => true }
}
