package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's FileSystem-based checkpoint manager, with one difference on
  * the local file system: file and directory modes are set through
  * `java.nio` instead of a forked `chmod`. Without Hadoop's native
  * library `RawLocalFileSystem.setPermission` starts a `chmod` process
  * for every checkpoint file, `.crc` and directory it creates (about 25
  * per stream run on perfbench's `stream` workload).
  *
  * On the local file system `fs` is a checksummed `LocalFileSystem`
  * over [[LocalCheckpointFileManager.NioPermissions]], built from the
  * manager's own conf, so umask and checksum settings come from it;
  * every parent method reaches the file system through `fs`. Renames
  * still go through the cached local file system, whose class may have
  * its own rules: Hive's `ProxyLocalFileSystem`, which Hadoop picks for
  * `file` when Hive is on the class path, will not rename onto an
  * existing file. Elsewhere `fs` is the parent's. */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {

  override protected val fs: FileSystem = path.getFileSystem(conf) match {
    case cached: LocalFileSystem =>
      val local = new LocalFileSystem(new LocalCheckpointFileManager.NioPermissions) {
        override def rename(src: Path, dst: Path): Boolean = cached.rename(src, dst)
      }
      local.setConf(conf)
      local.initialize(cached.getUri, conf)
      local
    case other => other
  }
}

object LocalCheckpointFileManager {

  /** A raw local file system whose `setPermission` calls
    * `Files.setPosixFilePermissions` when the mode has only the nine
    * rwx bits and the file store has a POSIX view; setuid, setgid and
    * sticky modes go through Hadoop's own path. */
  private[graft] class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      if ((mode & ~0x1ff) != 0 ||
          Files.getFileAttributeView(file, classOf[PosixFileAttributeView]) == null)
        super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // OWNER_READ .. OTHERS_EXECUTE are declared from bit 8 down to bit 0
        PosixFilePermission.values.foreach { b =>
          if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
        }
        Files.setPosixFilePermissions(file, perms)
      }
    }
  }
}
