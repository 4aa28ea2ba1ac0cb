package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without the forks. Without libhadoop,
  * `RawLocalFileSystem` runs `chmod` for every `setPermission` (each file
  * it creates, each directory it makes) and `readlink` for every
  * `getFileLinkStatus` (each `FileContext` rename). Here both go through
  * `java.nio.file`, with the same result: the same mode bits, the same
  * status for a file, a directory or a missing path. Anything NIO cannot
  * say the same way (a sticky bit, a non-POSIX store, a real symlink)
  * still goes to Hadoop. `GraftSession.builder` registers both APIs:
  * `FileSystem` (parquet writers, `FileOutputCommitter`) and
  * `FileContext` (Spark's checkpoint file manager).
  */
object LocalFs {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `RawLocalFileSystem` with NIO `setPermission` and `getFileLinkStatus`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists owner rwx, group rwx, others rwx: bit 8 down to bit 0
        val perms = new java.util.HashSet[PosixFilePermission]
        PosixFilePermission.values.zipWithIndex.foreach { case (b, i) => if ((mode & (0x100 >> i)) != 0) perms.add(b) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }

    // a missing path throws getFileStatus's FileNotFoundException, as in Hadoop
    override def getFileLinkStatus(p: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p) else getFileStatus(p)
  }

  /** The `FileSystem` API (`fs.file.impl`): checksummed, over `Raw`. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** The `FileContext` API (`fs.AbstractFileSystem.file.impl`): Hadoop's
    * `local.LocalFs` over `Raw`. The URI is always `file:///`, as there.
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))

  /** `org.apache.hadoop.fs.local.RawLocalFs`, delegating to `Raw`. */
  private class RawContext(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1 // no default port for file:///
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    // local filesystems differ in what names they accept: leave it to the OS
    override def isValidName(src: String): Boolean = true
  }
}
