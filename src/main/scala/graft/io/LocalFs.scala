package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with two calls made in-process. Without
  * `libhadoop` (Spark's distribution ships none), the stock class starts
  * a `chmod` process for every file and directory it creates
  * (`setPermission`) and a `readlink` process for every `getFileLinkStatus`,
  * which `FileContext.rename` asks for its source and destination. A
  * streaming checkpoint file is a temp-file create plus a rename, for the
  * file, its `.crc` and Spark's checksum sidecar, so a micro-batch forked
  * dozens of processes. Here both calls go through `java.nio`, with the
  * same results: the same mode bits, the same status for a non-link, and
  * the stock path for everything `java.nio` cannot state the same way. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine `rwx` bits through `Files.setPosixFilePermissions`, which
    * follows links like the stock `chmod` of the canonical path. Modes
    * with sticky/setuid/setgid bits, and non-POSIX default filesystems,
    * take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || !LocalFs.posix) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission is declared owner-read first: ordinal i is
      // mode bit 0400 >> i
      PosixFilePermission.values.foreach(b =>
        if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** A path that is not a symbolic link has the status `getFileStatus`
    * gives, which is what the stock method returns once `readlink` finds
    * no target (and it throws `FileNotFoundException` for a missing
    * path). Links, dangling ones included, take the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem`-API face (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` around [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` face (`fs.AbstractFileSystem.file.impl`), which
  * Spark's checkpoint file manager and state stores write through:
  * `org.apache.hadoop.fs.local.LocalFs` (checksums over the raw one) over
  * [[GraftRawLocalFs]]. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object LocalFs {
  val FileSystemKey = "fs.file.impl"
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"
  private val StockAbstractFileSystem = "org.apache.hadoop.fs.local.LocalFs"

  private[io] val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Point `conf`'s `FileContext` for `file:` at [[GraftLocalFs]] while it
    * still names Hadoop's stock class; a class the user chose is kept.
    * Idempotent. `FileContext` filesystems are not cached, so the next
    * query started from `conf` (or a copy made after this call) writes
    * its checkpoint and state through it. */
  def install(conf: Configuration): Unit =
    if (conf.get(AbstractFileSystemKey) == StockAbstractFileSystem)
      conf.set(AbstractFileSystemKey, classOf[GraftLocalFs].getName)
}
