package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` FileSystem without process spawns.
  *
  * Without the native `libhadoop`, stock `RawLocalFileSystem` forks a
  * `chmod` for every file and directory it creates and two `readlink`s
  * for every `FileContext.rename` (how Spark publishes offset logs,
  * commit logs and state-store deltas). One ~50 s run of the streambench
  * `stream` workload forked 13,669 processes on a stock session and 8 on
  * one with this class. [[NioRawLocalFileSystem]] does the same two
  * things through `java.nio.file`; everything else is the stock class.
  * That includes permission reads: a `FileStatus` loads its permission,
  * owner and group by forking `ls -ld`, here as on the stock class, so
  * hot paths must not build `LocatedFileStatus` (`FileSystem.listFiles`).
  * Installed by
  * [[graft.Sessions.tuned]] for both client APIs: [[NioLocalFileSystem]]
  * (`fs.file.impl`, the `FileSystem` API) and [[NioLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`, the `FileContext` API that Spark's
  * checkpoint manager uses). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod(2)` through NIO: the nine rwx bits and the sticky bit, all
    * `FsPermission.toShort` carries; follows links, as `chmod` does. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort & 0x3ff))

  /** A path that is not a symlink has its plain status, as in stock
    * Hadoop (whose `readlink` answers "" for it); links take the stock
    * path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local FileSystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]
  * (whose constructors are package-private). */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  /** Local file systems differ in what names they accept; the OS decides. */
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `org.apache.hadoop.fs.local.LocalFs`
  * (checksums over the raw local fs) over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))
