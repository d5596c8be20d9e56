package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every [[graft.Sessions]] session binds: Hadoop's
  * `RawLocalFileSystem` with `setPermission` done in-process by
  * `Files.setPosixFilePermissions` and `getFileLinkStatus` by
  * `Files.isSymbolicLink`. Without the native Hadoop library the
  * stock class forks a `chmod` child for every file and directory it
  * creates (about 50 per `SpotifyPipeline.runDaily`: each part file,
  * `_SUCCESS`, their `.crc` sidecars and the commit protocol's
  * directories). The mode set is the nine rwx bits of the given
  * `FsPermission`, which already carries the umask. The stock path stays
  * for a sticky bit (not expressible as a `PosixFilePermission`), for a
  * target that has setuid/setgid set (chmod(1)'s 4-digit mode keeps a
  * directory's, chmod(2) would clear them) and where the default file
  * system has no unix attribute view. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !PosixRawLocalFileSystem.hasUnixView ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0) // 06000
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixRawLocalFileSystem.posixBits(permission))
  }

  /** The stock class forks a `readlink` per call, link or not (twice per
    * `FileContext.rename`, i.e. per streaming checkpoint commit). */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object PosixRawLocalFileSystem {
  private val hasUnixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `PosixFilePermission` declares OWNER_READ … OTHERS_EXECUTE in the
    * order of the mode bits 0400 … 0001. */
  private def posixBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    PosixFilePermission.values.iterator.zipWithIndex
      .collect { case (bit, i) if (mode & (0x100 >> i)) != 0 => bit }.toSet.asJava // 0x100 = 0400
  }
}

/** Checksummed wrapper (`.crc` sidecars, checksum verification), bound as
  * `fs.file.impl`; a `LocalFileSystem` so `FileSystem.getLocal` works. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The same for `FileContext` (`fs.AbstractFileSystem.file.impl`), which
  * Structured Streaming's checkpoint and state-store files go through:
  * Hadoop's `LocalFs` over a `RawLocalFs` that delegates to
  * [[PosixRawLocalFileSystem]]. `(URI, Configuration)` is the constructor
  * `AbstractFileSystem` instantiates; like `LocalFs`, it ignores the URI. */
class PosixLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new PosixRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (its constructors are package-private) with the
  * delegate swapped: rooted at `file:///` whatever URI it is asked for, no
  * default port, local server defaults, names left to the OS. */
class PosixRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new PosixRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem overload", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
