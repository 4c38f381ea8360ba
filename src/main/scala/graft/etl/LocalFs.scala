package graft.etl

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system without a forked process per file.
  * Spark ships no `libhadoop`, so the stock `RawLocalFileSystem` runs
  * `chmod` on every create and mkdir and `readlink` on every FileContext
  * rename, about 110 processes per streaming query (its WAL, commit and
  * state-store delta files). Here a plain rwx mode is set through
  * `java.nio`, and a link status costs a `stat` unless the path really is
  * a symlink. Anything else (sticky bit, symlinks) is the stock code.
  * [[graft.jobs.Jobs.SessionConf]] registers it for both Hadoop APIs. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if ((perm.toShort & ~0x1ff) != 0) super.setPermission(p, perm)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(perm.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`: checksummed, as the stock one (`FileSystem.getLocal`
  * casts to [[LocalFileSystem]]). */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over the raw
  * file system above (`FileContext` calls the `(URI, Configuration)`
  * constructor; like `LocalFs`, it always serves `file:///`). `Raw`
  * carries stock `RawLocalFs`'s overrides (its default port, -1, is
  * already `DelegateToFileSystem`'s for a port-less file system). */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(conf))

object GraftLocalFs {
  class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
