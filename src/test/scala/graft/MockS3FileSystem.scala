package graft

import java.net.URI
import org.apache.hadoop.conf.Configuration

/** A Hadoop FileSystem whose objects live on the local disk under a
  * foreign scheme: `<scheme>://<authority>/<path>` maps to the local
  * file at `<path>`. The only deviations from the engine's raw local
  * file system (`LocalFs.Raw`, which sets permission bits in-process)
  * are the scheme/URI identity: paths check, qualify, and list back as
  * `<scheme>://<authority>/...`.
  */
abstract class LocalAsFileSystem(scheme: String)
    extends graft.access.LocalFs.Raw {
  private var mockUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    // pin the filesystem identity BEFORE super.initialize — the base
    // class qualifies its working directory against getUri
    mockUri = URI.create(name.getScheme + "://" + name.getAuthority)
    super.initialize(name, conf)
  }

  // the base-class CONSTRUCTOR already qualifies its working dir
  // against getUri, before initialize has run — serve a scheme-only
  // placeholder until the real authority is known
  override def getUri: URI =
    if (mockUri == null) URI.create(s"$scheme:///") else mockUri
  override def getScheme: String = scheme

  // the base class returns lazy statuses whose permission load does
  // `new File(path.toUri)` — impossible for a foreign-scheme URI.
  // Materialize plain FileStatus values instead (default permissions,
  // like a real object store's): the path identity is what the tests
  // exercise.
  private def plain(st: org.apache.hadoop.fs.FileStatus)
      : org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, null, null, null, st.getPath)

  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(plain)
}

/** In-JVM S3 stand-in for the accessor-dispatch tests: registered for
  * the `s3a` scheme (via `fs.s3a.impl=graft.MockS3FileSystem`), so
  * `s3a://<bucket>/<path>` maps to the local file at `<path>`. Every
  * engine IO path (Formats read/write, Memo, listFolder) reaches it
  * through the exact same registry lookup that resolves the real
  * `S3AFileSystem` in production (reference parity: the porcupine-s3
  * accessor, TaskPipelineUtils.hs:77-175) — what the sandbox cannot
  * exercise is only the wire protocol behind that interface, since
  * the hadoop-aws jar isn't shipped here.
  */
class MockS3FileSystem extends LocalAsFileSystem("s3a")

object MockS3FileSystem {

  /** Register the mock s3a FS and hand the body an s3a:// base URI
    * whose objects live under the local dir `base`. The conf keys are
    * restored so other tests see an unpolluted session. */
  def withBucket[T](spark: org.apache.spark.sql.SparkSession,
                    base: String)(body: String => T): T = {
    val hconf = spark.sparkContext.hadoopConfiguration
    new java.io.File(base).mkdirs()
    hconf.set("fs.s3a.impl", classOf[MockS3FileSystem].getName)
    hconf.set("fs.AbstractFileSystem.s3a.impl",
      classOf[MockS3AbstractFileSystem].getName)
    // the engine's s3a conf surface pins the magic committer, whose
    // factory lives in hadoop-aws (not on the test classpath) — route
    // committer selection back to the rename-based default for the
    // mock, everything else from configureS3 stands
    graft.access.Schemes.configureS3(spark,
      endpoint = Some("http://localhost:0"), accessKey = Some("test"),
      secretKey = Some("test"), pathStyleAccess = true)
    hconf.unset("mapreduce.outputcommitter.factory.scheme.s3a")
    hconf.unset("fs.s3a.committer.name")
    try body(s"s3a://graft-test-bucket$base")
    finally {
      org.apache.hadoop.fs.FileSystem.closeAll()
      Seq("fs.s3a.impl", "fs.AbstractFileSystem.s3a.impl",
        "fs.s3a.endpoint", "fs.s3a.access.key", "fs.s3a.secret.key",
        "fs.s3a.path.style.access")
        .foreach(hconf.unset)
    }
  }
}

/** The FileContext face of the same mock: the engine's memo publishes
  * via FileContext.rename (atomic-rename-aside), which resolves
  * `fs.AbstractFileSystem.s3a.impl` independently of `fs.s3a.impl`. */
class MockS3AbstractFileSystem(uri: URI, conf: Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new MockS3FileSystem, conf, "s3a", false)
