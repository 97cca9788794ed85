package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` as Hadoop's `LocalFileSystem` (checksummed, so every data
  * file keeps its `.crc` sibling) over a raw filesystem that sets
  * permissions in-process. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` forks a `chmod`, and it runs on
  * every file create and directory make: one process per file a task,
  * a checkpoint log or a state-store commit writes. [[Sessions.builder]]
  * registers it as `spark.hadoop.fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    /** Sets the mode bits the forked `chmod` would set. NIO cannot
      * express the sticky bit, so a mode that carries it fails here
      * rather than being set without it. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      if (permission.getStickyBit)
        throw new UnsupportedOperationException(
          s"cannot set mode $permission (sticky bit) on $p without forking chmod")
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
    }
  }

  /** The rwx bits of an octal mode. `PosixFilePermission` lists them from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001), so ordinal `i` is
    * bit `8 - i`. */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.filter(q => (mode & (1 << (8 - q.ordinal))) != 0).toSet.asJava
}
