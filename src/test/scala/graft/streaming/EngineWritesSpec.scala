package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.core.NioLocalFileSystem

/** Engine writes on the `file:` scheme go through [[NioLocalFileSystem]]:
  * they fork no process, and keep the modes and `.crc` checksums of
  * Hadoop's stock `LocalFileSystem`. */
class EngineWritesSpec extends SparkSpec {

  /** The `command` of every `jdk.ProcessStart` event in this JVM while
    * `body` runs, with the thread that started it. Spark's one
    * `getconf PAGESIZE`, run by a driver or executor heartbeater at the
    * JVM's first metrics poll, is no write and is left out. */
  private def forksDuring(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("engine-writes", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => s"${Option(e.getThread).map(_.getJavaName).orNull}: ${e.getString("command")}")
        .filterNot(_.endsWith("-heartbeater: getconf PAGESIZE"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file: resolves to the engine FileSystem from both session Hadoop confs") {
    val root = new java.net.URI("file:///")
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf()))
      assert(FileSystem.get(root, conf).getClass == classOf[NioLocalFileSystem])
  }

  test("engine writes fork nothing: the ingest JSON sink, Maintenance.land, a committed parquet write") {
    val root = Files.createTempDirectory("engine-writes")
    val in = root.resolve("in")
    Files.createDirectories(in)
    Files.write(in.resolve("10.0.0.1"), "gps:47.3769,8.5417\n".getBytes)
    Files.write(in.resolve("10.0.0.2"), Array[Byte](0x01, 0x7f, 0xff.toByte))
    val rows = spark.range(0, 1000, 1, 4).selectExpr("id", "cast(id % 7 as string) AS k")
    val forks = forksDuring {
      val q = IngestStream.start(spark, in.toString, s"$root/sink", s"$root/ck",
        trigger = Trigger.AvailableNow())
      try assert(q.awaitTermination(60000)) finally q.stop()
      assert(q.exception.isEmpty, q.exception)
      Maintenance.land(rows, s"$root/store", 3L)
      rows.write.parquet(s"$root/plain")
    }
    assert(forks.isEmpty, forks.mkString("\n"))
    assert(spark.read.json(s"$root/sink/date=*").count() == 2)
    assert(spark.read.parquet(Maintenance.batchPath(s"$root/store", 3L)).count() == 1000)
    assert(spark.read.parquet(s"$root/plain").count() == 1000)
  }

  test("files and dirs get the stock LocalFileSystem's modes under the same umask") {
    def modes(fs: FileSystem, umask: String): (String, String) = {
      val conf = new Configuration(spark.sessionState.newHadoopConf())
      conf.set("fs.permissions.umask-mode", umask)
      fs.initialize(new java.net.URI("file:///"), conf)
      val dir = Files.createTempDirectory("engine-modes")
      val f = new Path(s"$dir/sub/part-0")
      val out = fs.create(f, true)
      try out.write(1) finally out.close()
      (mode(Paths.get(s"$dir/sub/part-0")), mode(Paths.get(s"$dir/sub")))
    }
    for ((umask, want) <- Seq("022" -> ("rw-r--r--", "rwxr-xr-x"), "077" -> ("rw-------", "rwx------"))) {
      assert(modes(new NioLocalFileSystem, umask) == want)
      assert(modes(new LocalFileSystem, umask) == want)
    }
  }

  test("a part file keeps its .crc, and one flipped byte fails the checksummed read") {
    val dir = Files.createTempDirectory("engine-crc").resolve("out")
    spark.range(0, 500, 1, 1).selectExpr("cast(id as string) AS s").write.json(dir.toString)
    val part = Files.list(dir).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    assert(Files.exists(part.resolveSibling(s".${part.getFileName}.crc")))
    val bytes = Files.readAllBytes(part)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(part, bytes)
    val fs = FileSystem.get(dir.toUri, spark.sessionState.newHadoopConf())
    intercept[ChecksumException] {
      val in = fs.open(new Path(part.toUri))
      try in.readAllBytes() finally in.close()
    }
  }

  test("a sticky-bit setPermission still applies") {
    val dir = Files.createTempDirectory("engine-sticky")
    val fs = FileSystem.get(dir.toUri, spark.sessionState.newHadoopConf())
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) ==
      Integer.parseInt("1777", 8))
  }
}
