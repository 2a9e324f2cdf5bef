package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without process spawns.
  *
  * Without `libhadoop.so`, Hadoop's [[RawLocalFileSystem]] forks `chmod`
  * for every file and directory it creates and `readlink` for every
  * `getFileLinkStatus` — FileContext's rename asks twice per file. Every
  * streaming offset/commit-log entry, RocksDB changelog file, `.crc` and
  * parquet part file paid for those forks. This subclass does both in
  * process; answers and resulting modes are the stock ones (LocalFsSpec).
  * Registered for the `file:` scheme only (`Graft.configure`), so cluster
  * stores (HDFS, S3, ABFS) never reach it. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  /** The nine rwx bits via NIO; the sticky bit and stores without POSIX
    * attributes take the stock path. Like `chmod`, this follows links. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { q =>
        if ((bits & (0x100 >> q.ordinal)) != 0) perms.add(q)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** Only a symlink needs the stock (forking) answer; for anything else
    * it is exactly `getFileStatus`, missing paths included. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `file:` FileSystem over the above. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext twin (Spark's
  * checkpoint file manager and the RocksDB changelog writer use it), a
  * copy of Hadoop's `LocalFs` = `ChecksumFs(RawLocalFs)` over the above. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessLocalFs.Raw(uri, conf))

object InProcessLocalFs {
  private class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new InProcessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
