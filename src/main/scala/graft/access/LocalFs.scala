package graft.access

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The engine's `file:` file system: Hadoop's checksummed
  * [[LocalFileSystem]] over a [[RawLocalFileSystem]] that sets
  * permission bits in-process.
  *
  * Without Hadoop's native library the stock raw class sets them by
  * forking a `chmod` process, and it does so for every data file,
  * `.crc` file and directory a write creates: a parquet write, a
  * committer's `setupJob`, a swap's marker. Each fork costs about
  * 0.9 ms of a write's critical path against about 0.005 ms for
  * `java.nio`. Here the same bits go through
  * `Files.setPosixFilePermissions`; bits outside 0777 (sticky,
  * setuid) and non-POSIX file systems keep the stock call. Nothing
  * else differs: same files, same `.crc` sidecars, same modes.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The raw layer: [[RawLocalFileSystem]] with an in-process
    * permission setter. Its `mkdirs` and `create` route their modes
    * through `setPermission`, so they stop forking too. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!setPosix(pathToFile(p).toPath, permission))
        super.setPermission(p, permission)
  }

  // PosixFilePermission declares owner rwx, group rwx, others rwx:
  // ordinal i is mode bit 8 - i
  private val modeBits = PosixFilePermission.values().toSeq
    .map(pp => pp -> (1 << (8 - pp.ordinal)))

  /** Set `permission` on `file` through `java.nio`; false when it
    * carries bits outside 0777 or the file system is not POSIX, where
    * the caller falls back to the stock setter. */
  private def setPosix(file: java.nio.file.Path, permission: FsPermission)
      : Boolean = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) return false
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    modeBits.foreach { case (pp, bit) => if ((mode & bit) != 0) set.add(pp) }
    try { Files.setPosixFilePermissions(file, set); true }
    catch { case _: UnsupportedOperationException => false }
  }

  private val ImplKey = "fs.file.impl"
  private val fileRoot = URI.create("file:///")

  /** Make `b`'s session resolve `file:` to [[LocalFs]]: its Hadoop
    * conf names the class, and the JVM-wide file system cache holds a
    * [[LocalFs]] for `file:`. The cache keys on scheme, authority and
    * user, not on the class, so a stock instance that an earlier
    * lookup through a plain `new Configuration()` cached would
    * otherwise keep serving this session; it is evicted (`close`
    * removes it from the cache; holders of it keep a working file
    * system). Called by every session builder the program has. */
  def register(b: SparkSession.Builder): SparkSession.Builder = {
    val conf = new Configuration()
    conf.set(ImplKey, classOf[LocalFs].getName)
    FileSystem.get(fileRoot, conf) match {
      case _: LocalFs =>
      case stock =>
        stock.close()
        FileSystem.get(fileRoot, conf)
    }
    b.config(s"spark.hadoop.$ImplKey", classOf[LocalFs].getName)
  }
}
