package graft.table

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset}

/** Hadoop's raw local FS with a `setPermission` that sets the mode
  * through `java.nio` instead of a `chmod` child process.
  *
  * Without the native hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` through `Shell.execCommand`, and it is called for every
  * directory `mkdirs` makes and every file `create` opens — a Parquet write
  * with its `.crc` sidecars pays one process start per dir and per file,
  * where nio needs two system calls. The mode set is the same mode:
  * built from `perm.toShort`, with the inherited method kept for what
  * nio cannot express — the sticky bit, a directory whose set-user-ID or
  * set-group-ID bit `chmod` would preserve, and a file system without
  * POSIX permissions.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    val file = pathToFile(p).toPath
    val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
    // anything above rwxrwxrwx is the sticky bit
    if (view == null || (mode & ~0x1ff) != 0 || NioRawLocalFileSystem.keepsIdBits(file))
      super.setPermission(p, permission)
    else view.setPermissions(NioRawLocalFileSystem.permissionsOf(mode))
  }
}

object NioRawLocalFileSystem {
  // rwx for user, group, other, highest bit first: PosixFilePermission's order
  private val bits = PosixFilePermission.values().toSeq.zip((8 to 0 by -1).map(1 << _))

  /** The permissions of the low nine bits of `mode`. */
  private def permissionsOf(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, b) => if ((mode & b) != 0) s.add(p) }
    s
  }

  /** A directory carrying set-user-ID or set-group-ID: a four-digit
    * numeric `chmod` keeps those bits on a directory, nio would clear them.
    */
  private def keepsIdBits(f: JPath): Boolean = {
    val m = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    (m & 0xf000) == 0x4000 && (m & 0xc00) != 0 // S_IFDIR; S_ISUID | S_ISGID
  }
}

/** Hadoop's checksummed local FS (`.crc` sidecars kept) over
  * [[NioRawLocalFileSystem]]: the `file:` FS of every store write.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** Per-write options that make a write to a `file:` path go through
    * [[NioLocalFileSystem]]. The cache has to be off for the write: with
    * it on, `FileSystem.get` hands back the session's cached `file:`
    * instance and never looks at the class. Other schemes ignore both keys.
    */
  private val options = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `ds.write` with its local files and dirs made without `chmod` processes. */
  def write[T](ds: Dataset[T]): DataFrameWriter[T] = ds.write.options(options)
}
