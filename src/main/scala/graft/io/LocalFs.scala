package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file://` filesystem without its process starts. With no
  * libhadoop, `setPermission` runs `chmod` for every directory made and
  * every file opened for write, and `getFileLinkStatus` runs `readlink`
  * on every `FileContext` rename. Both are done here in-process, with
  * the same outcome: the nine `rwx` bits are set from the mode bits (a
  * mode above 0777, such as a sticky bit, goes to Hadoop), and a path
  * that is not a symbolic link gets its plain status (a link goes to
  * Hadoop, which reads it).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // > 0777
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermission.values.zipWithIndex.collect {
        case (bit, i) if (mode & (0x100 >> i)) != 0 => bit
      }.toSet.asJava)
  }

  // the same File whose link Hadoop reads
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over the raw
  * layer above (the `FileSystem` API).
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed
  * `RawLocalFs`) over the raw layer above (the `FileContext` API).
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, "file", false) {
      // RawLocalFs's own overrides (its constructors are package-private)
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
