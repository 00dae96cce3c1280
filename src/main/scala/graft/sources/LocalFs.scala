package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process spawns. Without
  * libhadoop, `RawLocalFileSystem` starts a `chmod` process for every
  * permission it sets (each create and mkdir) and a `readlink` process
  * for every link-status lookup (each FileContext rename, i.e. each
  * checkpoint, WAL and state file a streaming batch commits). Both are
  * done here in-process through NIO; real symlinks and bits NIO cannot
  * express (the sticky bit) keep Hadoop's path. [[graft.Session]]
  * registers it for the `file` scheme in both Hadoop APIs
  * ([[LocalFs.hadoopConfs]]). */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    // PosixFilePermission lists OWNER_READ (0400) to OTHERS_EXECUTE (0001)
    // in bit order; anything above 0777 is Hadoop's to set
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermission.values
      .filter(b => (bits & (0x100 >> b.ordinal)) != 0).toSet.asJava)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {
  /** `fs.file.impl`: the checksummed FileSystem over [[LocalFs]]. */
  class Checksummed extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: FileContext's checksummed view,
    * shaped like Hadoop's `fs.local.LocalFs`. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(conf))

  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    // as in Hadoop's RawLocalFs: local defaults, and local names may hold ':'
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop conf keys that route `file:` paths through [[LocalFs]]. */
  val hadoopConfs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Checksummed].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)
}
