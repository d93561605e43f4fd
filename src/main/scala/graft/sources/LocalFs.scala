package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its shell calls.
  *
  * Without libhadoop, `RawLocalFileSystem` starts a `chmod` process on
  * every create and mkdir, and a `readlink` process for each of the two
  * link lookups in every `FileContext` rename: the streaming checkpoint
  * logs, the state store's delta files and the sink appends paid one
  * process start per file. This subclass answers both in-process with the
  * same result:
  *   - `setPermission` sets the same nine mode bits through java.nio
  *     (callers have already applied the umask, as before). A sticky bit,
  *     which java.nio cannot set, and a directory carrying its set-user
  *     or set-group-ID bit, which `chmod` with a four-digit mode keeps and
  *     java.nio would clear, still go to Hadoop.
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus` (what Hadoop returns once `readlink` prints
  *     nothing, including FileNotFoundException for a missing path).
  *     Symlinks, real or dangling, still go to Hadoop.
  *
  * `Tables.session` registers it for the `file` scheme through both
  * Hadoop APIs ([[ForkFreeLocalFileSystem]], [[ForkFreeLocalFs]]); other
  * schemes are untouched.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit || ForkFreeRawLocalFileSystem.keepsSetId(path))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path,
      ForkFreeRawLocalFileSystem.posix(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  /** OWNER_READ .. OTHERS_EXECUTE: mode bits 8 down to 0. */
  private val bits = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) set.add(bits(i)))
    set
  }

  /** A directory with its set-user- or set-group-ID bit (octal 06000). */
  private def keepsSetId(path: NioPath): Boolean =
    Files.isDirectory(path) &&
      (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
}

/** The `FileSystem` API face (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. Serves parquet
  * writers, the output committer, staging and the storage-lane appends. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API face (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs` (`ChecksumFs` over `RawLocalFs`) with the raw layer
  * swapped. Serves the streaming checkpoint logs and the state store. Like
  * `LocalFs`, it binds to `file:///` whatever URI it is built for. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private, over
  * [[ForkFreeRawLocalFileSystem]]. */
private[sources] class ForkFreeRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
