package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/**
 * Hadoop's checksummed local filesystem, minus the forked `chmod`.
 *
 * Without the native `libhadoop` (the Spark distribution ships none),
 * `RawLocalFileSystem.setPermission` runs `chmod` as a child process for
 * every file and directory the filesystem creates: each data file, its
 * `.crc` sibling, each task-attempt directory and each `bucket=` directory.
 * A 64-bucket epoch write forked about 235 processes, and a write task ran
 * 44 ms with them against 21 ms without. This filesystem sets the same
 * permission bits in-process with `Files.setPosixFilePermissions`.
 *
 * Installed per write, never session-wide: [[NoForkLocalFileSystem.hadoopKeys]]
 * go on a DataFrameWriter's options (Spark copies writer options into the
 * write's Hadoop configuration, on the driver and in every task), and
 * [[NoForkLocalFileSystem.conf]] gives the driver-side filesystem of a table
 * root. `fs.file.impl.disable.cache` is part of the keys because
 * `FileSystem`'s cache key ignores the configuration: with the cache on, a
 * stock `file:` instance cached earlier would be returned instead. Other
 * schemes are unaffected.
 */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // java.nio has no sticky/setuid/setgid bits: such a mode keeps `chmod`
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NoForkLocalFileSystem.posix(mode))
  }
}

object NoForkLocalFileSystem {
  /** Hadoop keys that make `file:` paths use this filesystem. */
  val hadoopKeys: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` carrying [[hadoopKeys]]. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    hadoopKeys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  // declared owner rwx, group rwx, others rwx: bit 8 - ordinal of the mode
  private val perms = PosixFilePermission.values()

  private[cdc] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    perms.indices.filter(i => (mode & (1 << (8 - i))) != 0).foreach(i => s.add(perms(i)))
    s
  }
}
