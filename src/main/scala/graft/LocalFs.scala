package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystems every session uses ([[Tables.configure]]):
  * Hadoop's checksummed local ones over a raw filesystem that starts no
  * process per file. Without native `libhadoop` (the Spark jars ship
  * none), stock `setPermission` forks `chmod` for every directory and
  * marker file a Parquet write creates, and `getFileLinkStatus` forks
  * `readlink` for both sides of every streaming checkpoint rename.
  */
object LocalFs {
  class Raw extends RawLocalFileSystem {
    /** The same mode bits, set through NIO; a mode beyond `0777`
      * (sticky, setuid) takes the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values.zipWithIndex
        .collect { case (bit, i) if (mode & (0x100 >> i)) != 0 => bit }.toSet.asJava)
    }

    /** Stock hands `readlink` a scheme-qualified path as the string
      * `file:/…`, which names no file, so its answer for such a path is
      * the path's status: the same here, without the fork. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (f.toUri.getScheme == null) super.getFileLinkStatus(f) else getFileStatus(f)
  }

  /** `fs.file.impl`: stock `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`, which `FileContext` (streaming
    * checkpoints) uses: stock `LocalFs` over [[Raw]]. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Stock `RawLocalFs` over [[Raw]]. */
  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String) = true
  }
}
