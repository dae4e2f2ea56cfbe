package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Hadoop's raw local file system with `setPermission` through NIO.
  * Without libhadoop, Hadoop sets the bits of every file it creates and
  * every directory it makes by running a `chmod` process; this sets the
  * same bits in-process. A sticky bit, which NIO cannot set, takes
  * Hadoop's path. */
class NioPermissionLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner/group/others × r/w/x in octal bit order, 0400 first
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
}

/** The checkpoint file manager of every bounded run (set in
  * [[Streams.bounded]]): Spark's file-system-based manager, whose
  * rename is `FileSystem.rename`, with no symlink lookup per file. On a
  * `file:` path its file system is Hadoop's checksumming
  * `LocalFileSystem` over [[NioPermissionLocalFileSystem]], so each
  * log file keeps its `.crc` sibling and its permission bits while no
  * file operation starts a process; any other scheme keeps the path's
  * own file system. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  override protected val fs: FileSystem = {
    val default = path.getFileSystem(hadoopConf)
    if (default.getScheme != "file") default
    else {
      val local = new LocalFileSystem(new NioPermissionLocalFileSystem)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }
}
