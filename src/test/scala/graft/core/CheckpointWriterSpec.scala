package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.IngestStream

/** The atomic small-file writer behind every streaming log and state
  * file, reached the way Spark reaches it: `CheckpointFileManager.create`
  * under the session's Hadoop conf. */
class CheckpointWriterSpec extends SparkSpec {
  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toString), spark.sessionState.newHadoopConf())

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("CheckpointFileManager.create returns the graft writer for a file: path") {
    val dir = Files.createTempDirectory("ckfm-create")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())
    assert(fm.getClass.getName == "graft.core.LocalCheckpointFileManager")
  }

  test("no-overwrite onto an existing file fails with Hadoop's FileAlreadyExistsException, " +
      "keeps the old bytes and leaves no temp file") {
    val dir = Files.createTempDirectory("ckfm-noover")
    val f = dir.resolve("0")
    Files.writeString(f, "old")
    val out = manager(dir).createAtomic(new Path(f.toString), false)
    out.write("new".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](out.close())
    assert(Files.readString(f) == "old")
    assert(names(dir) == Set("0"))
  }

  test("overwrite replaces the file and drops its stale .crc; a checksummed open reads the new bytes") {
    val dir = Files.createTempDirectory("ckfm-over")
    val p = new Path(dir.resolve("state").toString)
    val lfs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val old = lfs.create(p, true)
    try old.write("old bytes".getBytes("UTF-8")) finally old.close()
    assert(Files.exists(dir.resolve(".state.crc")))
    val out = manager(dir).createAtomic(p, true)
    out.write("new".getBytes("UTF-8"))
    out.close()
    assert(names(dir) == Set("state"), "no .crc sidecar and no temp file")
    val in = lfs.open(p)
    try assert(new String(in.readAllBytes(), "UTF-8") == "new") finally in.close()
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = Files.createTempDirectory("ckfm-cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toString), false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  /** `f` exists with no `.crc` sidecar and no temp file beside it. */
  private def landedClean(f: java.nio.file.Path): Unit = {
    assert(Files.exists(f), f)
    val beside = names(f.getParent).filter(_.startsWith(s".${f.getFileName}."))
    assert(beside.isEmpty, s"$f: $beside")
  }

  test("IndexStore.ensureIndexFor's fingerprint marker lands through the one writer") {
    val src = Files.createTempFile("ckfm-src", ".parquet")
    Files.write(src, Array.fill(64)(7.toByte))
    val ix = graft.operators.IndexStore.ensureIndexFor(spark, src.toString, "ckfm",
      d => { new java.io.File(d).mkdirs(); () })
    landedClean(Paths.get(ix, "_graft_fingerprint"))
  }

  test("Bucketing.ensureBucketed's fingerprint marker lands through the one writer") {
    val table = Bucketing.ensureBucketed(spark.range(8).toDF("k"), "ckfm_bucketed",
      "k", 2, java.util.UUID.randomUUID.toString)
    val lfs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val warehouse = new Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    try landedClean(lfs.pathToFile(new Path(warehouse, "_graft_fingerprint")).toPath)
    finally { spark.sql(s"DROP TABLE IF EXISTS `$table`"); lfs.delete(warehouse, true) }
  }

  test("an IndexStore encode batch's stats.json lands through the one writer") {
    val dir = Files.createTempDirectory("ckfm-ivfpq").toString
    graft.operators.IndexStore.buildIvfPq(
      Tables.load(spark, "/root/testdata/sf0.001", "embeddings"), dir, 16, 4, 16, 1)
    landedClean(Paths.get(dir, "stats/batch_id=0/stats.json"))
  }

  test("a checkpoint written by Spark's default manager restarts under the graft writer: " +
      "every file lands once, and the new batches leave no .crc") {
    val root = Files.createTempDirectory("ckfm-restart")
    val in = root.resolve("in"); val out = root.resolve("out"); val ck = root.resolve("ck")
    Files.createDirectories(in)
    def drop(ips: String*): Unit =
      ips.foreach(ip => Files.writeString(in.resolve(ip), s"payload from $ip\n"))
    def run(): Unit = {
      val q = IngestStream.start(spark, in.toString, out.toString, ck.toString,
        trigger = Trigger.AvailableNow())
      try q.awaitTermination(60000) finally q.stop()
    }
    val prev = spark.conf.getOption(Key)
    spark.conf.set(Key,
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    drop("10.0.0.1", "10.0.0.2")
    try run() finally prev match {
      case Some(v) => spark.conf.set(Key, v)
      case None => spark.conf.unset(Key)
    }
    // the first run really wrote through Spark's default manager
    assert(Files.exists(ck.resolve("offsets/.0.crc")))
    drop("10.0.0.3", "10.0.0.4")
    run()
    assert(Files.exists(ck.resolve("offsets/1")) && Files.exists(ck.resolve("commits/1")))
    val landed = spark.read.json(s"$out/date=*").select("client_ip").collect().map(_.getString(0))
    assert(landed.sorted.toSeq == Seq("10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.4"))
    for (d <- Seq(ck.resolve("offsets"), ck.resolve("commits"), out.resolve("_spark_metadata"))) {
      val crcs = names(d).filter(_.endsWith(".crc"))
      assert(crcs == Set(".0.crc"), s"$d: $crcs")
    }
  }
}
