package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` filesystems every session gets from `Tables.configure`:
  * they are the ones in use, a write and a checkpointed micro-batch
  * start no process, and modes and link statuses are stock Hadoop's. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val root = URI.create("file:///")

  /** The commands of the processes the JVM started during `action`,
    * but for Spark's own `rm -rf` of a finished session's artifact
    * directory (a streaming query's session clone): it runs
    * asynchronously, so it can land in any window. */
  private def processStarts(action: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try action finally rec.stop()
    val f = Files.createTempFile("graft_localfs_", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
        .filterNot(c => c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    } finally { rec.close(); Files.delete(f) }
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  test("the file: filesystem in use is graft's, on the driver and inside a task") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, conf).getClass === classOf[LocalFs.Checksummed])
    assert(AbstractFileSystem.get(root, conf).getClass === classOf[LocalFs.Context])
    val shipped = spark.sparkContext.broadcast(new SerializableWritable(conf))
    val inTask = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => FileSystem.get(URI.create("file:///"), shipped.value.value).getClass.getName)
      .collect()
    assert(inTask.toSeq === Seq(classOf[LocalFs.Checksummed].getName))
  }

  test("a Parquet write and a checkpointed streaming micro-batch start no process") {
    val out = tmp("graft_localfs_write_").toString
    def write(): Unit = spark.range(0, 1000, 1, 2).write.mode("overwrite").parquet(out)
    write() // the first write pays the JVM's one-time class initialization
    assert(processStarts(write()) === Nil)

    val ckpt = tmp("graft_localfs_ckpt_").toString
    val started = processStarts {
      val q = spark.readStream.schema(spark.read.parquet(out).schema).parquet(out)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(started === Nil)
    assert(Files.exists(java.nio.file.Paths.get(ckpt, "commits", "0")))
  }

  /** Mode bits (sticky included) of every file under `dir`, by relative name. */
  private def modes(dir: JPath): Map[String, Int] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff)
    }.toMap

  /** Directories and files made through `fs` under a fresh directory. */
  private def made(fs: FileSystem, umask: Option[String]): Map[String, Int] = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(root, conf)
    val dir = tmp("graft_localfs_modes_")
    val at = (name: String) => new Path(dir.toUri.toString, name)
    try {
      fs.mkdirs(at("d/e"))
      fs.mkdirs(at("m"), new FsPermission("750"))
      fs.create(at("f")).close()
      fs.create(at("g"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(at("h")).close()
      fs.setPermission(at("h"), new FsPermission("604"))
      fs.mkdirs(at("t"))
      fs.setPermission(at("t"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      modes(dir)
    } finally { fs.close(); org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile) }
  }

  test("directory and file modes match stock Hadoop's, umask and sticky bit included") {
    for (umask <- Seq(None, Some("077"))) {
      var ours = Map.empty[String, Int]
      val started = processStarts { ours = made(new LocalFs.Checksummed, umask) }
      assert(ours === made(new LocalFileSystem, umask), s"umask $umask")
      assert(ours("t") === Integer.parseInt("1777", 8))
      assert(ours.contains(".f.crc"))
      // the sticky mode alone takes the stock, forking path
      val chmods = started.filter(_.startsWith("chmod "))
      assert(chmods.size === 1 && chmods.head.startsWith("chmod 1777 "), started)
    }
  }

  test("getFileLinkStatus equals stock on a file, a directory, a missing path and a symlink") {
    val dir = tmp("graft_localfs_links_")
    Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    val conf = new Configuration()
    val (ours, stock) = (new LocalFs.Raw, new RawLocalFileSystem)
    ours.initialize(root, conf)
    stock.initialize(root, conf)
    def status(fs: FileSystem, p: Path): String =
      try fs.getFileLinkStatus(p).toString
      catch { case e: java.io.IOException => s"${e.getClass.getName}: ${e.getMessage}" }
    try {
      for (name <- Seq("file", "dir", "missing", "link"); qualified <- Seq(true, false)) {
        val f = dir.resolve(name)
        val p = if (qualified) new Path(f.toUri.toString) else new Path(f.toString)
        assert(status(ours, p) === status(stock, p), p)
      }
      assert(status(ours, new Path(dir.resolve("missing").toUri.toString)).contains("FileNotFoundException"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
