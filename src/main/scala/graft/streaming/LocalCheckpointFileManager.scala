package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's FileSystem-based checkpoint manager over a local file system
  * that sets permissions without forking.
  *
  * Hadoop's `RawLocalFileSystem` sets the mode of every file and directory
  * it creates; without libhadoop it runs `chmod` as a child process, so each
  * committed checkpoint file, and its `.crc` twin, costs one fork. Here the
  * mode is applied with chmod(2) through NIO instead. Everything else is
  * Hadoop's: the checksummed `LocalFileSystem` writes and verifies the same
  * `.crc` files, and commits stay exists-then-rename(2), so a checkpoint
  * written under this manager resumes under Spark's default and back.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override protected val fs: FileSystem = {
    // constructed as FileSystem.get constructs the cached one: conf, then
    // initialize (the conf sets the checksum chunk size)
    val local = new LocalFileSystem(new LocalCheckpointFileManager.ChmodLocalFileSystem)
    local.setConf(hadoopConf)
    local.initialize(URI.create("file:///"), hadoopConf)
    local
  }
}

object LocalCheckpointFileManager {

  /** Hadoop's raw local file system, with `setPermission` as chmod(2). A
    * mode NIO cannot express (sticky, setuid, setgid) or a file store
    * without POSIX permissions falls back to Hadoop's own. */
  private final class ChmodLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = PosixFilePermissions.fromString(
          FsPermission.createImmutable(mode).toString)
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }
}
