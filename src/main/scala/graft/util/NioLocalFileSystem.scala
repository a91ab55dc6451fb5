package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's checksummed local file system, setting permissions through
  * java.nio. Without Hadoop's native library, `RawLocalFileSystem`
  * runs `chmod` in a child process for every file and directory it
  * creates (a data file's `.crc` included), so a write of many small
  * files spends much of its time starting processes, a cost that swings
  * with the host's load. The owner/group/other bits set are the same;
  * sticky and setuid bits are not set (no local write here uses them).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = new java.util.HashSet[PosixFilePermission]()
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission, x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) bits.add(r)
        if (a.implies(FsAction.WRITE)) bits.add(w)
        if (a.implies(FsAction.EXECUTE)) bits.add(x)
      }
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  /** Writer options that route one `DataFrameWriter` job's `file:`
    * paths through this file system (a write's options reach its Hadoop
    * configuration; the cache is bypassed because its key ignores the
    * configuration and would hand back the default instance).
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
