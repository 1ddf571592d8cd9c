package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The store's `file:` file system: Hadoop's checksummed local FS whose
  * permission calls go through `java.nio` instead of a forked `chmod`.
  * Without the native library, the stock local FS forks one `chmod` for
  * every file, `.crc` file and directory it creates (20 creates into an
  * existing directory: 173–190 ms stock, 8–12 ms here; each into new
  * 4-level directories: 477–528 ms against 11–22 ms; 5 rounds on a
  * 4-core Linux host, JDK 17).
  * Modes come out the same: the umask is applied by Hadoop before the
  * call, and anything `java.nio` cannot express (a sticky bit asked for,
  * a setuid or setgid bit the file carries, a file store without a POSIX
  * view) takes the stock call.
  *
  * It is bound per use, never process-wide: [[LocalStoreFs.forPath]]
  * for the store's driver-side metadata, and [[LocalStoreFs
  * .writeOptions]] in one write's own Hadoop conf, uncached, for the
  * data and stats files its tasks create. The session conf, the
  * SparkContext's Hadoop conf and Hadoop's FileSystem cache keep the
  * stock binding. */
final class LocalStoreFs extends LocalFileSystem(new LocalStoreFs.Raw)

object LocalStoreFs {

  private[store] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val nio = !permission.getStickyBit && (try {
        (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
      } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false })
      if (!nio) super.setPermission(p, permission)
      else {
        val bits = permission.toShort & 0x1ff
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // the enum lists owner, group, others, each read, write, execute:
        // the mode's bits from the highest down
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (0x100 >> i)) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(f, perms)
      }
    }
  }

  private val FileUri = java.net.URI.create("file:///")

  /** Whether `p` is a `file:` path under `conf` (a path with no scheme
    * takes the default FS's). Every other scheme keeps its own binding. */
  private def binds(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The file system the store reads and commits `p` through: a fresh
    * instance of this class for a `file:` path, else `p`'s own. */
  def forPath(p: Path, conf: Configuration): FileSystem =
    if (!binds(p, conf)) p.getFileSystem(conf)
    else {
      val fs = new LocalStoreFs
      fs.initialize(FileUri, conf)
      fs
    }

  /** Hadoop options that bind `file:` to this class in a write whose
    * output is `p`: `fs.file.impl` plus `fs.file.impl.disable.cache`, so
    * each task gets its own instance and Hadoop's FileSystem cache never
    * holds one. Empty where [[forPath]] would not bind. */
  def writeOptions(p: Path, conf: Configuration): Map[String, String] =
    if (!binds(p, conf)) Map.empty
    else Map("fs.file.impl" -> classOf[LocalStoreFs].getName,
      "fs.file.impl.disable.cache" -> "true")
}
