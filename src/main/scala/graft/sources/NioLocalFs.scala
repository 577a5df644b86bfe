package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its forked helpers. Without the
  * native library, `RawLocalFileSystem` runs `chmod` for every
  * `setPermission` (each created file, `.crc` and dir) and `readlink`
  * for every `getFileLinkStatus` (each `FileContext` rename of a
  * streaming checkpoint). This one sets modes through java.nio and
  * reads a link only where NIO reports one. Checksums, modes and
  * rename semantics are Hadoop's own. [[graft.GraftSession]] installs
  * it for `file://`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // sticky and set-id bits have no java.nio form
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.util.Set.of(PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (mode & (0x100 >> i)) != 0 => perm
      }: _*))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the NIO raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side: Hadoop's
  * `LocalFs` (a `ChecksumFs` over `RawLocalFs`) over the NIO raw one.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1 // no default port for file:///
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults()
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults() = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true // the OS validates
  }
}
