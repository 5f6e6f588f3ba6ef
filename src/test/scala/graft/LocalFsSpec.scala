package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import graft.access.LocalFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[graft.access.LocalFs]], the engine's `file:` file system: layer
  * writes start no OS process (counted with an in-process JFR
  * recording of `jdk.ProcessStart`), files and directories get the
  * same permission bits as under Hadoop's stock `LocalFileSystem`, and
  * every session the program builds resolves `file:` to it. */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Graft.builder(4, "local-fs-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fileRoot = URI.create("file:///")
  private def cachedFs(conf: Configuration): FileSystem =
    FileSystem.get(fileRoot, conf)

  private def scratch(name: String): String = {
    val dir = s"${graft.Scratch.root}/local_fs_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  /** Run `body` with this session's `file:` resolved to `impl`: the
    * cached instance is evicted before and after, so every lookup in
    * between, on the driver and in tasks, shares one `impl`. */
  private def withFileFs[T](impl: Class[_ <: LocalFileSystem])(
      body: => T): T = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = Option(hconf.get("fs.file.impl"))
    cachedFs(hconf).close()
    hconf.set("fs.file.impl", impl.getName)
    try {
      assert(cachedFs(hconf).getClass == impl)
      body
    } finally {
      cachedFs(hconf).close()
      prev.fold(hconf.unset("fs.file.impl"))(hconf.set("fs.file.impl", _))
      LocalFs.register(SparkSession.builder())
    }
  }

  /** The commands of the OS processes the JVM started while `body`
    * ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(f)
    }
  }

  /** A partitioned parquet write, a [[graft.llm.Swap.commit]] over
    * one of its partitions and an `ingestLayerCompact` of the layer. */
  private def layerWrites(dir: String): Unit = {
    import spark.implicits._
    val layer = s"$dir/layer"
    val rows = (0L until 60L).map(i => (i, s"t$i", i % 3))
      .toDF("doc_id", "text", "ingest_batch")
    rows.write.partitionBy("ingest_batch").parquet(layer)
    graft.llm.Swap.commit(spark, layer, Seq("ingest_batch=1")) { tmp =>
      rows.filter(col("ingest_batch") === 1L && col("doc_id") > 10L)
        .write.partitionBy("ingest_batch").parquet(tmp.toString)
    }
    graft.streaming.IngestStream.ingestLayerCompact(spark, layer,
      watermark = 2L)
    assert(spark.read.parquet(layer).count() == 56L)
  }

  test("a partitioned parquet write, a swap commit and a layer " +
       "compaction start no OS process") {
    val dir = scratch("no_process")
    assert(cachedFs(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[LocalFs])
    layerWrites(s"$dir/warm")
    val started = processStarts(layerWrites(s"$dir/run"))
    assert(started.isEmpty, s"processes started: ${started.take(5)}")
  }

  test("control: the same writes under the stock LocalFileSystem " +
       "fork chmod processes") {
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable,
      "with Hadoop's native library the stock class sets modes " +
        "in-process too")
    val dir = scratch("stock_process")
    val started = withFileFs(classOf[LocalFileSystem]) {
      processStarts(layerWrites(dir))
    }
    assert(started.exists(_.startsWith("chmod")),
      s"processes started: ${started.take(5)}")
  }

  /** Mode bits (setuid, setgid and sticky included) of every file and
    * directory under `root`, by relative path, with the per-write
    * UUIDs of Spark's part-file names masked. */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        "*") -> Integer.toOctalString(
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 4095)
    }.toMap

  test("files and directories get the stock class's permission bits") {
    import spark.implicits._
    def writeAll(dir: String): Map[String, String] = {
      (0L until 20L).map(i => (i, i % 4)).toDF("id", "part")
        .write.partitionBy("part").parquet(s"$dir/parquet")
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def perm(octal: String) =
        new FsPermission(Integer.parseInt(octal, 8).toShort)
      fs.mkdirs(new Path(s"$dir/d700"), perm("700"))
      fs.create(new Path(s"$dir/f600"), perm("600"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.create(new Path(s"$dir/f640")).close()
      fs.setPermission(new Path(s"$dir/f640"), perm("640"))
      // sticky: outside 0777, so LocalFs hands it to the stock setter
      fs.mkdirs(new Path(s"$dir/sticky"))
      fs.setPermission(new Path(s"$dir/sticky"), perm("1777"))
      modes(java.nio.file.Paths.get(dir))
    }
    val dir = scratch("modes")
    val stock = withFileFs(classOf[LocalFileSystem])(
      writeAll(s"$dir/stock"))
    val ours = withFileFs(classOf[LocalFs])(writeAll(s"$dir/ours"))
    assert(ours == stock)
    assert(ours("d700") == "700" && ours("f600") == "600" &&
      ours("f640") == "640" && ours("sticky") == "1777", ours)
    assert(ours.keys.exists(_.endsWith(".parquet.crc")),
      "checksum sidecars are still written")
  }

  test("sessions from Graft.builder and CLI.defaultSession resolve " +
       "file: to LocalFs, also after a plain Configuration cached the " +
       "stock class") {
    Seq[() => SparkSession](
      () => Graft.builder(4, "local-fs-spec").getOrCreate(),
      () => graft.config.CLI.defaultSession()).foreach { build =>
      cachedFs(new Configuration()).close()
      assert(!cachedFs(new Configuration()).isInstanceOf[LocalFs],
        "a plain Configuration resolves file: to the stock class")
      val s = build()
      assert(new Path("file:///tmp").getFileSystem(
        s.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
      assert(FileSystem.getLocal(new Configuration()).isInstanceOf[LocalFs],
        "the cache serves LocalFs to every lookup of file:")
    }
  }
}
