package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.RuntimeConfig

/** Hadoop's raw local filesystem without its per-call shell processes.
  *
  * Without native libhadoop, `RawLocalFileSystem` runs `chmod` for every
  * file it creates with a permission and `readlink` for every
  * `getFileLinkStatus` (FileContext's rename asks twice). A streaming
  * checkpoint writes a few small files per micro-batch, so those process
  * starts, not the bytes, set the cost of `walCommit`, `commitOffsets`
  * and the state commit. This class sets the same mode bits through NIO
  * and answers `getFileLinkStatus` with `getFileStatus` unless the path
  * really is a symlink; symlinks and sticky-bit modes still take Hadoop's
  * own code.
  */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The FileSystem-API `file:` scheme: Hadoop's checksummed `LocalFileSystem`
  * (`.crc` sidecars written and verified) over the fork-free raw store. */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The FileContext-API `file:` scheme, built like Hadoop's `LocalFs`:
  * `ChecksumFs` over a `DelegateToFileSystem` of the fork-free raw store.
  * Spark's checkpoint file managers write through this one.
  *
  * Spark reads the offset and commit logs with `FileContext.open(Path)`,
  * which `FilterFs` hands straight to the raw store, past `ChecksumFs`'s
  * checker; so a wrong digit in `offsets/<n>` would restart the query at
  * the wrong offset. Here that call verifies the `.crc` sidecar as the
  * buffered open does. This covers `file:` checkpoints only: other schemes
  * keep their own filesystem's read path. */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]]. */
final class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object ForkFreeLocalFs {

  /** Routes the session's `file:` checkpoint I/O through the fork-free
    * classes. Spark copies session confs into the Hadoop conf that the
    * offset and commit logs and the state stores open files with. The
    * FileSystem cache is keyed by scheme, not by class, and holds the
    * stock `file:` instance from session start-up; RocksDB uploads its
    * SST files through that API, so the cache is bypassed for `file:`. */
  def register(conf: RuntimeConfig): Unit = {
    conf.set("fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
  }
}
