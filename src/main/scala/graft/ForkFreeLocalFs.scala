package graft

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-call process forks.
  *
  * Without a native libhadoop, `RawLocalFileSystem` runs `chmod` for
  * every `setPermission` (so for every file and directory it creates
  * with a permission) and `readlink` for every `getFileLinkStatus` (so
  * for every FileContext rename, as in Structured Streaming's offset and
  * commit logs). Both become JDK calls here, with the same results:
  *
  *  - `setPermission` sets the same `rwx` bits through
  *    `Files.setPosixFilePermissions`, which follows a symlink as
  *    `chmod` does. A mode with bits above 0777 (sticky) or a default
  *    filesystem with no POSIX view still forks, through `super`;
  *  - `getFileLinkStatus` decides "is a link" with
  *    `Files.readSymbolicLink` on the very path `FileUtil.readLink`
  *    hands to `readlink`, `new File(f.toString)`, and any exception
  *    means "not a link", as the fork's non-zero exit does. A plain
  *    file then gets `getFileStatus(f)`, which is what `super` returns
  *    for it; a link goes to `super` for the stock status.
  *
  * [[GraftSession.tune]] registers it for the `file` scheme through
  * both Hadoop APIs: [[ForkFreeLocalFileSystem]] for `FileSystem`, and
  * [[ForkFreeLocalFs]] for `FileContext`, which streaming checkpoints
  * use. Checksums stay: both wrap it as Hadoop's own local filesystems
  * wrap the raw one.
  *
  * Caveat: Hadoop caches `FileSystem` instances by scheme, authority and
  * user, not by configuration. A JVM that resolved `file:` before any
  * graft session was built keeps the stock instance for `FileSystem.get`;
  * `FileSystem.newInstance` and `FileContext` always honour the conf. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !HasPosixView) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink =
      try { Files.readSymbolicLink(new File(f.toString).toPath); true }
      catch { case _: Exception => false }
    if (isLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

object ForkFreeRawLocalFileSystem {
  private val HasPosixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission's declaration order is OWNER_READ (0400) down to
  // OTHERS_EXECUTE (0001)
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (perm, i) => (perm, 1 << (8 - i)) }

  private[graft] def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (perm, bit) => if ((mode & bit) != 0) s.add(perm) }
    s
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the shape of Hadoop's `LocalFs`
  * (a `ChecksumFs` over a `DelegateToFileSystem`) over
  * [[ForkFreeRawLocalFileSystem]]. `LocalFs`'s constructors are
  * package-private, so the delegate repeats `RawLocalFs`'s three
  * overrides; like `LocalFs`, it ignores the URI it is given. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(ForkFreeLocalFs.raw(conf))

object ForkFreeLocalFs {
  private def raw(conf: Configuration): DelegateToFileSystem =
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
        conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
