package graft.qcew

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem, except that a file's or a
  * directory's permission bits are set in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` starts a
  * `chmod` process, and Hadoop calls it for every file (data and
  * `.crc`) and every directory a write creates: hundreds of processes
  * per lake write. This class sets the same rwx bits with
  * `Files.setPosixFilePermissions`. It defers to Hadoop when libhadoop
  * is loaded (no process there), for a sticky bit (which NIO cannot
  * set), and on a filesystem without POSIX attributes. Checksums,
  * commits and every byte written stay Hadoop's.
  *
  * [[Ingest]] selects it for its own writes only, through writer
  * options (`fs.file.impl` plus `fs.file.impl.disable.cache`), which
  * Spark copies into that write job's Hadoop conf; the caller's
  * session is left alone.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Writer options that route a `file:` write through [[LocalFs]]. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    // else FileSystem.get returns the session's cached `file:` instance
    "fs.file.impl.disable.cache" -> "true")

  private[qcew] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !posix) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, {
        // the 9 rwx bits, owner read (0400) first, in the enum's order
        val mode = permission.toShort
        PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava
      })
  }
}
