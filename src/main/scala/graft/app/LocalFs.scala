package graft.app

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem that `SparkUtil.session` installs: the stock
  * checksummed `LocalFileSystem` (same `.crc` files) over a raw layer that
  * sets permissions in-process. Without native libhadoop the stock raw
  * layer forks `chmod` for every file and directory a write creates
  * (about 200 forks per 64-bucket `ExtractJob` write).
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    /** Modes within 0777 go through NIO; setuid, setgid and sticky bits,
      * which NIO cannot set, take the stock path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }

  /** `PosixFilePermission.values` runs OWNER_READ … OTHERS_EXECUTE, i.e.
    * from bit 8 down to bit 0 of the mode.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}
