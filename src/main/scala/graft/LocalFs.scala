package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: Hadoop's local filesystem without
  * its process forks. Without libhadoop (a stock Spark distribution has
  * none) `RawLocalFileSystem` forks `chmod` for every file it creates
  * and every directory it makes, and `readlink` for every link-status
  * lookup (each `FileContext.rename` makes some) — about 95 process
  * starts, 5–6 ms each, per checkpointed stream call. Permission bits
  * and statuses are Hadoop's. [[GraftSession.builder]] serves the `file`
  * scheme with [[GraftLocalFileSystem]] and [[GraftLocalFs]].
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  /** The nine rwx bits through NIO; a sticky bit, or a file store
    * without a POSIX view, goes to Hadoop's `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    // 0x200 is the sticky bit (octal 1000); PosixFilePermission runs
    // from owner read (octal 400) down to others execute (octal 1)
    if ((bits & 0x200) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values
      .filter(x => (bits & (0x100 >> x.ordinal)) != 0).toSet.asJava)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** A path that is not a symlink has its plain status: Hadoop's answer
    * once `readlink` prints nothing, a missing path's
    * `FileNotFoundException` included. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (what `FileContext` and so the
  * streaming checkpoint logs use): Hadoop's `LocalFs` over
  * [[GraftRawLocalFileSystem]]. Hadoop instantiates it by its
  * (URI, Configuration) constructor; like `LocalFs` it serves
  * `file:///` whatever the URI. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]]. */
private class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
