package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with one change: permissions
  * are set with a `chmod(2)` syscall through `java.nio` rather than a
  * spawned `chmod` process.
  *
  * Without the native Hadoop library, stock
  * `RawLocalFileSystem.setPermission` runs `Shell.execCommand("chmod", …)`
  * for every file, `.crc` sidecar and directory it creates. A Connect
  * sink creates one small object per flush.size records, so that spawn
  * dominates its write time. Everything else (`.crc` sidecars, checksum
  * verification, final modes) is the stock behaviour.
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` sets the same nine mode
    * bits in-process. It defers to the stock path, and so to `chmod(1)`,
    * when the result could differ: sticky-bit modes (no `java.nio`
    * equivalent), stores with no POSIX attribute view, and directories
    * carrying setuid/setgid bits, which `chmod(1)` keeps for a numeric
    * mode while `chmod(2)` would clear them.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
      if (view == null || permission.getStickyBit || isSetIdDir(file))
        super.setPermission(p, permission)
      else view.setPermissions(posixBits(permission.toShort))
    }
  }

  private val S_IFMT = 0xf000   // 0170000
  private val S_IFDIR = 0x4000  // 0040000
  private val SetIdBits = 0xc00 // 06000

  private def isSetIdDir(file: JPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Integer].intValue
    (mode & S_IFMT) == S_IFDIR && (mode & SetIdBits) != 0
  }

  /** The rwx bits of a numeric mode; `PosixFilePermission.values` runs
    * from owner-read (0400) down to others-execute (0001).
    */
  private def posixBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) bits.add(perm)
    }
    bits
  }
}
