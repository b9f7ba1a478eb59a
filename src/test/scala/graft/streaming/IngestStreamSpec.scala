package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Ingest

/** S4 end-to-end: files dropped in a directory flow through the full
  * pipeline (frame → filter → hex/%q/severity → LogEntry JSON) into the
  * date-partitioned JSONL sink, with observed metrics accumulating in the
  * listener — the Structured Streaming realization of the reference's
  * ingest loop (main.go:220-318), golden-checked modulo timestamp like
  * the nc smoke probe (deploy.sh:174). */
/** Public top-level so the MemoryStream encoder can resolve it. */
case class PayloadRow(payload: Array[Byte], ts: java.sql.Timestamp, client_ip: String)

class IngestStreamSpec extends SparkSpec {

  test("S4: directory source → JSONL sink with metrics") {
    val root = Files.createTempDirectory("graft-ingest").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/10.0.0.1"), "gps:47.3769,8.5417\n".getBytes)
    Files.write(Paths.get(s"$in/10.0.0.2"), Array[Byte](0x01, 0x02, 0x7f.toByte, 0xff.toByte))
    Files.write(Paths.get(s"$in/10.0.0.3"), Array.emptyByteArray) // dropped

    val listener = new IngestStream.MetricsListener
    spark.streams.addListener(listener)
    val q = IngestStream.start(spark, in, out, ck, trigger = Trigger.AvailableNow())
    try q.awaitTermination(60000) finally {
      q.stop(); spark.streams.removeListener(listener)
    }

    val rows = spark.read.json(s"$out/date=*")
      .collect().map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))
    assert(rows.length == 2) // empty payload filtered out
    val byIp = rows.map(m => m("client_ip") -> m).toMap
    val a = byIp("10.0.0.1")
    assert(a("binary_data_hex") == "6770733a34372e333736392c382e353431370a")
    assert(a("binary_data_string") == "\"gps:47.3769,8.5417\\n\"")
    assert(a("byte_count") == 19L && a("level") == "INFO")
    assert(a("timestamp").toString.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z"""))
    val b = byIp("10.0.0.2")
    assert(b("binary_data_hex") == "01027fff")
    assert(b("binary_data_string") == "\"\\x01\\x02\\x7f\\xff\"")
    // observed metrics accumulated across batches
    assert(listener.processedRequests == 2)
    assert(listener.totalBytes > 0)
  }

  test("health surface (§2A#19) reports liveness + progress for a running " +
      "ingest query, and goes inactive after stop") {
    val root = Files.createTempDirectory("graft-health").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/10.0.0.1"), "gps:1.0,2.0\n".getBytes)
    // ProcessingTime keeps the query ALIVE after catching up (AvailableNow
    // self-terminates, which is the post-stop half of the assertion)
    val q = IngestStream.start(spark, in, out, ck,
      trigger = Trigger.ProcessingTime("1 second"))
    try {
      q.processAllAvailable()
      val h = IngestStream.health(spark, q).collect()
      assert(h.length == 1)
      val r = h(0)
      assert(r.getAs[String]("query_id") == q.id.toString)
      assert(r.getAs[Boolean]("is_active"))
      assert(!r.getAs[Boolean]("failed"))
      assert(r.getAs[Long]("last_batch_id") >= 0L,
        "no progress recorded for a query that processed a batch")
      assert(r.getAs[Long]("last_num_input_rows") >= 0L)
    } finally q.stop()
    val after = IngestStream.health(spark, q).collect()(0)
    assert(!after.getAs[Boolean]("is_active"))
    assert(!after.getAs[Boolean]("failed"))
  }

  test("checkpoint recovery is exactly-once: restart processes only new files") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/c1"), "first".getBytes)

    def runOnce(): Unit = {
      val q = IngestStream.start(spark, in, out, ck, trigger = Trigger.AvailableNow())
      try q.awaitTermination(60000) finally q.stop()
    }
    runOnce()
    Files.write(Paths.get(s"$in/c2"), "second".getBytes)
    runOnce() // same checkpoint: must pick up only c2

    val msgs = spark.read.json(s"$out/date=*")
      .select("client_ip").collect().map(_.getString(0)).sorted
    assert(msgs.toSeq == Seq("c1", "c2")) // each exactly once
  }

  test("built-in socket source feeds the pipeline (line-framed text)") {
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var done = false
    val feeder = new Thread(() => {
      try {
        val s = server.accept()
        val out = new java.io.PrintWriter(s.getOutputStream, true)
        out.println("gps:10.1,20.2")
        out.println("gps:30.3,40.4")
        while (!done) Thread.sleep(50) // keep the connection open
        s.close()
      } catch { case _: java.io.IOException => }
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = IngestStream.transformJson(
      IngestStream.fromSocket(spark, "127.0.0.1", server.getLocalPort))
      .writeStream.format("memory").queryName("socksrc").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var vals: Array[String] = Array.empty
      while (vals.length < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        vals = spark.table("socksrc").collect().map(_.getString(0))
        if (vals.length < 2) Thread.sleep(200)
      }
      assert(vals.length == 2)
      assert(vals.exists(_.contains("\"byte_count\":13")), vals.mkString("|"))
    } finally {
      q.stop(); done = true; server.close()
    }
  }

  test("rate source produces schema'd rows (streaming source coverage)") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", 50).load()
      .writeStream.format("memory").queryName("ratesrc").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("ratesrc").isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable()
      }
    } finally q.stop()
    val df = spark.table("ratesrc")
    assert(df.columns.toSeq == Seq("timestamp", "value"))
    assert(df.count() > 0)
  }

  test("compaction rewrites a closed partition into one file, content intact") {
    val root = Files.createTempDirectory("graft-compact").toString
    val in = s"$root/in"; val out = s"$root/out"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    // several runs → several small files in the same date partition
    for (i <- 1 to 3) {
      Files.write(Paths.get(s"$in/c$i"), s"payload-$i".getBytes)
      val q = IngestStream.start(spark, in, out, ck, trigger = Trigger.AvailableNow())
      try q.awaitTermination(60000) finally q.stop()
    }
    val date = java.nio.file.Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).find(_.startsWith("date=")).get.stripPrefix("date=")
    val before = spark.read.json(s"$out/date=$date").collect().sortBy(_.getAs[String]("client_ip"))
    val nFiles = Maintenance.compactJsonPartition(spark, out, date)
    assert(nFiles == 1)
    val after = spark.read.json(s"$out/date=$date").collect().sortBy(_.getAs[String]("client_ip"))
    assert(after.map(_.getAs[String]("binary_data_hex")).toSeq ==
      before.map(_.getAs[String]("binary_data_hex")).toSeq)
    // compacted JSON keeps the Go struct field order (main.go:43-51), not
    // the alphabetized order schema inference would produce
    val raw = Files.list(Paths.get(s"$out/date=$date")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).flatMap(p =>
        Files.readAllLines(p).asScala).next()
    val keyOrder = """"(\w+)":""".r.findAllMatchIn(raw).map(_.group(1)).toSeq
    val declOrder = Maintenance.logEntrySchema.fieldNames.toSeq
    assert(keyOrder == keyOrder.sortBy(k => declOrder.indexOf(k)), raw)
    val want = before.map(_.getAs[String]("binary_data_hex")).toSeq
    def hexes() = spark.read.json(s"$out/date=$date").collect()
      .sortBy(_.getAs[String]("client_ip")).map(_.getAs[String]("binary_data_hex")).toSeq
    val live = Paths.get(s"$out/date=$date"); val bak = Paths.get(s"$out/.old-date=$date")
    // crash recovery: a stranded backup with the live partition gone is
    // restored, then compacted
    Files.move(live, bak)
    assert(Maintenance.compactJsonPartition(spark, out, date) == 1)
    assert(hexes() == want)
    assert(!Files.exists(bak))
    // a backup beside a live partition outlived a finished swap: it is
    // discarded, and none of its rows reach the compacted partition
    Files.createDirectories(bak)
    Files.writeString(bak.resolve("part-stale.json"),
      """{"client_ip":"10.9.9.9","binary_data_hex":"ff"}""" + "\n")
    assert(Maintenance.compactJsonPartition(spark, out, date) == 1)
    assert(hexes() == want)
    assert(!Files.exists(bak))
  }

  test("per-message file sink writes each payload executor-side") {
    val root = Files.createTempDirectory("graft-permsg").toString
    val in = s"$root/in"; val data = s"$root/data"; val ck = s"$root/ck"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/10.0.0.7"), "alpha".getBytes)
    Files.write(Paths.get(s"$in/10.0.0.8"), Array[Byte](0x00, 0x42))
    Files.write(Paths.get(s"$in/10.0.0.9"), Array.emptyByteArray) // dropped
    val q = IngestStream.startPerMessageFiles(spark, in, data, ck,
      trigger = Trigger.AvailableNow())
    try q.awaitTermination(60000) finally q.stop()
    val files = Files.list(Paths.get(data)).iterator().asScala.toSeq
      .sortBy(_.getFileName.toString)
    assert(files.length == 2, files.map(_.getFileName))
    val byIp = files.map(f => f.getFileName.toString.split("-").last -> f).toMap
    assert(new String(Files.readAllBytes(byIp("10.0.0.7.txt"))) == "alpha")
    assert(Files.readAllBytes(byIp("10.0.0.8.txt")).toSeq == Seq[Byte](0x00, 0x42))
    // stamped names: yyyyMMdd'T'HHmmss prefix, batch/partition/row infix
    assert(files.forall(_.getFileName.toString.matches("""\d{8}T\d{6}-\d+-\d+-\d+-.+\.txt""")))
  }

  test("console sink echoes the transformJson line per record (§2A#9)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[PayloadRow]
    mem.addData(PayloadRow("gps:1.0,2.0".getBytes,
      java.sql.Timestamp.valueOf("2024-06-01 10:00:00"), "10.9.9.9"))
    val payloads = mem.toDF().select(
      col("payload"), col("ts"), col("client_ip"))
    // content: the exact line the console echoes, via a memory sink on
    // the same transformJson plan
    val qm = IngestStream.transformJson(payloads)
      .writeStream.format("memory").queryName("consolejson").outputMode("append").start()
    try qm.processAllAvailable() finally qm.stop()
    val line = spark.table("consolejson").collect().map(_.getString(0)).head
    assert(line.contains("\"binary_data_hex\":\"6770733a312e302c322e30\""), line)
    assert(line.contains("\"byte_count\":11"), line)
    assert(line.contains("\"timestamp\":\"2024-06-01T10:00:00Z\""), line)
    // and the console-format query itself runs that plan to completion
    val q = IngestStream.startConsole(payloads, trigger = Trigger.AvailableNow())
    try {
      assert(q.awaitTermination(60000))
      assert(q.exception.isEmpty, q.exception)
      assert(q.recentProgress.map(_.numInputRows).sum == 1L)
    } finally q.stop()
  }

  test("one LogEntry field list: the flat projection's columns and JSON lines match " +
      "to_json(logEntry) byte for byte") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    val payloads = Seq[Array[Byte]](
      Array.emptyByteArray, null, Array[Byte](0x41),
      Array.tabulate[Byte](4096)(i => (i * 31 + 7).toByte),
      Array[Byte](0x67, 0xc3.toByte, 0x28, 0xff.toByte, 0xe2.toByte, 0x82.toByte)) // invalid UTF-8
    val df = payloads.zipWithIndex.map { case (p, i) => PayloadRow(p, ts, s"10.0.0.$i") }.toDF()
    val entry = Ingest.logEntry(col("ts"), col("payload"), col("client_ip"))
    val fields = df.select(entry.as("e")).schema("e").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(IngestStream.transform(df).columns.toSeq == fields :+ "date")

    // the sink's JSON lines: the flat columns through the JSON datasource
    def sinkLines(flat: org.apache.spark.sql.DataFrame): Seq[String] = {
      val dir = Files.createTempDirectory("graft-logentry").resolve("out")
      flat.write.option("ignoreNullFields", "true").partitionBy("date").json(dir.toString)
      Files.walk(dir).iterator().asScala.toSeq
        .filter(f => f.getFileName.toString.startsWith("part-"))
        .flatMap(f => Files.readAllLines(f).asScala).sorted
    }
    // every payload, empty and null included, through the one field list
    val all = sinkLines(df.select(
      Ingest.logEntryFields(col("ts"), col("payload"), col("client_ip")) :+
        to_date(col("ts")).as("date"): _*))
    assert(all.length == payloads.length)
    assert(all == df.select(Ingest.toJson(entry)).as[String].collect().toSeq.sorted)
    // the stream body: empty and null dropped, the rest byte-identical
    val lines = sinkLines(IngestStream.transform(df))
    assert(lines.length == 3)
    assert(lines == IngestStream.transformJson(df).select("value").as[String]
      .collect().toSeq.sorted)
  }

  test("retention drops only expired date partitions") {
    val out = Files.createTempDirectory("graft-retention").toString
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    // a name that is no date (Spark's null-date partition, a stray copy)
    // is kept, and does not stop the expired partitions beside it going
    val expired = Seq("date=2020-01-01", "date=2019-06-30")
    val kept = Seq(s"date=$today", "date=__HIVE_DEFAULT_PARTITION__", "date=2024-01-01.bak")
    (expired ++ kept).foreach(d => Files.createDirectories(Paths.get(s"$out/$d")))
    IngestStream.dropExpiredPartitions(spark, out, keepDays = 30)
    expired.foreach(d => assert(!Files.exists(Paths.get(s"$out/$d")), d))
    kept.foreach(d => assert(Files.exists(Paths.get(s"$out/$d")), d))
  }
}
