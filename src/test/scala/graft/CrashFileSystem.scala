package graft

import java.io.IOException
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash-point injection for the swap-protocol specs: a local-disk
  * Hadoop FileSystem under the private `crashfs` scheme
  * (`crashfs://<domain>/<local path>`) that counts mutating calls
  * (`create`, `createNonRecursive`, `append`, `rename`, `delete`,
  * `mkdirs`) per URI authority, the crash domain. Once a domain is
  * armed at k, its k-th counted call throws, and so does EVERY
  * mutating call in that domain after it, for good — a dead process,
  * not one that keeps cleaning up, whose straggling task threads can
  * no longer write either. Recovery reaches the same files through
  * another, unarmed domain. Calls touching a Spark write's own
  * `_temporary` or `.spark-staging-*` dirs (task attempt files and
  * the job commit's merge out of them) pass uncounted before the
  * crash, so one write collapses into one crash point: its
  * `_SUCCESS` file, created after every output file is in place. A
  * call made from inside another counted call (the parent `mkdirs`
  * of a `create`) is part of it. Domains are independent, so crash
  * runs in different domains can proceed concurrently.
  */
class CrashFileSystem extends LocalAsFileSystem(CrashFileSystem.Scheme) {
  private def mutating[T](op: String, paths: Path*)(body: => T): T =
    CrashFileSystem.mutating(getUri.getAuthority, op, paths)(body)

  override def create(f: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutating("create", f)(super.createNonRecursive(f, permission,
      overwrite, bufferSize, replication, blockSize, progress))

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    mutating("append", f)(super.append(f, bufferSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    mutating("rename", src, dst)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    mutating("delete", f)(super.delete(f, recursive))

  override def mkdirs(f: Path): Boolean =
    mutating("mkdirs", f)(super.mkdirs(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutating("mkdirs", f)(super.mkdirs(f, permission))
}

object CrashFileSystem {
  val Scheme = "crashfs"

  private final class Domain(val armedAt: Long) {
    val counted = new AtomicLong(0L)
    @volatile var dead = false
  }
  private val domains =
    new java.util.concurrent.ConcurrentHashMap[String, Domain]()
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Register the scheme on the session's Hadoop conf. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CrashFileSystem].getName)

  /** The URI of a local absolute path in crash domain `domain`
    * (lower-case letters, digits and '-'). */
  def uri(domain: String, local: String): String =
    s"$Scheme://$domain$local"

  /** Crash `domain` on its k-th counted call (Long.MaxValue: only
    * count). */
  def arm(domain: String, k: Long): Unit =
    domains.put(domain, new Domain(k))

  /** Counted calls so far in an armed domain. */
  def calls(domain: String): Long = domains.get(domain).counted.get

  /** Whether an armed domain has crashed. */
  def crashed(domain: String): Boolean = domains.get(domain).dead

  private def internal(p: Path): Boolean =
    p.toUri.getPath.split('/').exists(n =>
      n == "_temporary" || n.startsWith(".spark-staging"))

  private def mutating[T](domain: String, op: String,
                          paths: Seq[Path])(body: => T): T = {
    val d = domains.get(domain)
    if (d == null || depth.get > 0) body
    else {
      if (d.dead)
        throw new IOException(s"$Scheme: process dead, refused " +
          s"$op ${paths.mkString(" ")}")
      if (!paths.exists(internal)) {
        val n = d.counted.incrementAndGet()
        if (n >= d.armedAt) {
          d.dead = true
          throw new IOException(s"$Scheme: crash point $n at " +
            s"$op ${paths.mkString(" ")}")
        }
      }
      depth.set(depth.get + 1)
      try body finally depth.set(depth.get - 1)
    }
  }
}
