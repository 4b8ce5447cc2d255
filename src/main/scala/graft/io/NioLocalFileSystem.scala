package graft.io

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's checksummed local FileSystem over [[NioRawLocalFileSystem]]:
  * the same files, `.crc` sidecars and modes as `LocalFileSystem`, with
  * permissions set in-process.
  *
  * Without the native libhadoop, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every directory, data file and `.crc`
  * a write creates: 211–236 for one `update` of an 8-table, 8-bucket
  * store and 281 for its `expand` (JFR `jdk.ProcessStart`), while the
  * update's tasks ran for 3.4–3.6 times their CPU time. The store
  * writes through this class by naming it in each writer's options
  * ([[options]]), so the choice holds for that write in any session
  * without touching the SparkContext's Hadoop conf or the JVM's
  * FileSystem cache. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** Writer options that route a `file:` write through this class. The
    * cache is bypassed for those keys, so a cached `file:` FileSystem
    * of the default class is never handed to the write, nor this one to
    * anybody else. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

/** `RawLocalFileSystem` whose `setPermission` is
  * `Files.setPosixFilePermissions` rather than a forked `chmod`. A mode
  * that POSIX file permissions cannot express (the sticky bit), or a
  * file store without them, goes to the parent's shell path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(permission.toShort))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
}

object NioRawLocalFileSystem {
  // bit 8 - i of the mode is the i-th constant: OWNER_READ (0400)
  // through OTHERS_EXECUTE (0001)
  private val bits = PosixFilePermission.values()

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) s.add(bits(i))
    s
  }
}
