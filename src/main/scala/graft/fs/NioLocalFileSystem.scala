package graft.fs

import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` file system: Hadoop's checksummed `LocalFileSystem` (every
  * file still gets its `.crc` sibling) over a raw layer that sets modes
  * in-process. Without libhadoop, Hadoop's `RawLocalFileSystem` runs
  * `chmod <mode> <path>` in a child process for every file, `.crc` file
  * and directory it creates, about 580 forks per medallion pass, and the
  * write stages wait on them. Registered for every Hadoop `Configuration`
  * by `fs.file.impl` in the `core-site.xml` resource. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val SetIds = Integer.parseInt("6000", 8) // S_ISUID | S_ISGID
  private val TypeMask = Integer.parseInt("170000", 8) // S_IFMT
  private val Dir = Integer.parseInt("40000", 8) // S_IFDIR

  /** Hadoop's own path is kept where it does not fork (libhadoop's
    * chmod(2)) or where java.nio cannot write the full mode. */
  private val inProcess = !NativeIO.isAvailable &&
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  class Raw extends RawLocalFileSystem {

    /** The mode `chmod %04o` gives, which is what Hadoop runs: the
      * permission's bits, sticky bit included, except that a directory
      * keeps its setuid/setgid bits, as GNU chmod keeps them for a
      * numeric mode of four digits (chmod(2) would clear them). Symlinks
      * are followed, as chmod follows them. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!inProcess) super.setPermission(p, permission)
      else {
        val f = pathToFile(p).toPath
        val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        val kept = if ((old & TypeMask) == Dir) old & SetIds else 0
        Files.setAttribute(f, "unix:mode", Int.box(permission.toShort | kept))
      }
  }
}
