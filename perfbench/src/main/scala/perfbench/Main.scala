package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{GraftSession, Tables}
import graft.operators.{Curation, TokenizerStore}
import graft.streaming.{CurateStream, IngestStream, PackStream}

/** The benchmark's engine side: one JVM per run. It sets the engine up
  * (`setup_s` runs from JVM start to the end of the workload's warm-up),
  * runs one workload through the engine's public entry points, checks
  * what it can check in-process, and writes everything it measured to
  * `<work>/result.json` for `run.py`.
  *
  * Args: --workload W --seed S --seconds N --trace 0|1 --data DIR --work DIR
  *       --cores C --port P
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, cores: Int, port: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("cores").toInt, m("port").toInt)
  }

  private val results = mutable.LinkedHashMap.empty[String, Any]
  private def put(k: String, v: Any): Unit = results(k) = v

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Memory.install()
    val work = Paths.get(o.work)
    Files.createDirectories(work)
    val tr = new Collector(o.trace)
    val wl: Workload = o.workload match {
      case "ingest_tcp" => new IngestTcp(o, tr)
      case "curate_drops" => new CurateDrops(o, tr)
      case w => sys.error(s"unknown workload $w")
    }
    // One set-up: JVM start, class loading, session, fixture load and the
    // workload's warm-up.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o, work)
    wl.setup(spark)
    put("setup_s", (System.currentTimeMillis() - jvmStart) / 1000.0)
    tr.attach(spark)
    val failures = try wl.run(spark) finally wl.stop()
    tr.drain(spark)
    put("failures", failures)
    put("attempted", wl.attempted)
    put("ops", wl.ops.map { case (n, ms) => Map("name" -> n, "ms" -> ms) })
    put("workload", wl.metrics)
    put("trace_window", Seq(wl.tracedWindow._1, wl.tracedWindow._2))
    if (o.trace) {
      put("layer", (tr.layerMetrics(wl.tracedWindow) ++ wl.layerMetrics ++ Seq(
        ("streaming.start_ms", tr.spanMeanMs("streaming.start"), "ms"),
        ("trace.callback_ms", tr.callbackMs, "ms"),
        ("trace.spans", tr.spans.size.toDouble, "count")))
        .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
      Files.writeString(work.resolve("spans.jsonl"), tr.spansJsonl)
    }
    put("triggers", tr.triggers.map(t => Map("query" -> t.query, "batch" -> t.batchId,
      "end_ms" -> t.endEpochMs, "rows" -> t.rows, "backlog" -> t.backlog,
      "durations" -> t.durations, "observed" -> t.observed)))
    put("peak_mem_mb", Memory.peakMb())
    Files.writeString(work.resolve("result.json"), Json.of(results))
    spark.stop()
    println("RESULT " + work.resolve("result.json"))
  }

  private def session(o: Opts, work: Path): SparkSession = {
    val s = GraftSession.builder(s"local[${o.cores}]", math.max(o.cores, 4))
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ============================================================ workloads
  abstract class Workload(val o: Opts, val tr: Collector) {
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    var attempted = 0L
    protected var traceFrom, traceTo = 0L
    def setup(spark: SparkSession): Unit
    /** Run the measured window; returns the number of failed operations. */
    def run(spark: SparkSession): Long
    def stop(): Unit = ()
    def metrics: Map[String, Any]
    def layerMetrics: Seq[(String, Double, String)] = Nil
    def tracedWindow: (Long, Long) = (traceFrom, traceTo)
    protected def arm[T](f: => T): T = {
      tr.armed = true
      traceFrom = System.currentTimeMillis()
      try f finally { traceTo = System.currentTimeMillis(); tr.armed = false }
    }
  }

  /** Closed loop, one drop at a time: land a drop, run one AvailableNow pass
    * of the curate-then-pack stream on the shared checkpoint, and repeat
    * for a fixed number of drops, so every run does the same work; twice
    * `--seconds` only caps it. The set-up trains the frozen tokenizer and lands
    * drop 0 as warm-up. The fold of the key and pack stores runs once two
    * pack fragment directories exist. Afterwards the packed store is
    * served, and the survivors and packed sequences are checked against
    * batch curation and packing over the union of the landed drops. */
  final class CurateDrops(o: Opts, tr: Collector) extends Workload(o, tr) {
    private val root = Paths.get(o.work, "curate")
    private val tokDir = Paths.get(o.work, "tok").toString
    private val drops = Files.list(Paths.get(o.data, "drops")).toArray.map(_.asInstanceOf[Path])
      .sortBy(_.getFileName.toString).toSeq
    private val landed = mutable.ArrayBuffer.empty[Path]
    private var docsIn, docsLanded, survivors, storeFiles = 0L
    private var windowS = 0.0
    /** Drops measured after the warm-up drop 0. */
    val MeasuredDrops = 5
    val FoldFragDirs = 2
    require(drops.size > MeasuredDrops, s"need ${MeasuredDrops + 1} drops in ${o.data}/drops")

    def setup(spark: SparkSession): Unit = {
      tr.span("core.Tables.load:documents")(Tables.load(spark, o.data, "documents").count())
      // the frozen tokenizer, trained offline on the whole drop corpus
      tr.span("operators.TokenizerStore.trainBpe") {
        TokenizerStore.trainBpe(spark.read.parquet(s"${o.data}/corpus.parquet"), tokDir, 8, 256)
      }
      drop(spark, 0)
    }

    /** Land drop i and run its pass; returns its milliseconds. */
    private def drop(spark: SparkSession, i: Int): Double = {
      spark.sparkContext.setLocalProperty(Collector.ModuleKey, "streaming.CurateStream")
      val src = drops(i)
      val t = System.nanoTime()
      tr.span(s"drop:$i") {
        val in = root.resolve("in")
        Files.createDirectories(in)
        val tmp = root.resolve(s".landing-${src.getFileName}")
        Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, in.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
        val q = tr.span("streaming.start") {
          CurateStream.startCurateAndPack(spark, in.toString, root.resolve("out").toString,
            root.resolve("ck").toString, tokDir, autoCompactFragDirs = FoldFragDirs)
        }
        tr.span("streaming.CurateStream.awaitTermination")(q.awaitTermination())
      }
      landed += src
      (System.nanoTime() - t) / 1e6
    }

    def run(spark: SparkSession): Long = {
      val end = System.nanoTime() + (2 * o.seconds * 1e9).toLong
      val w0 = System.nanoTime()
      var i = 1
      arm {
        while (i <= MeasuredDrops && (i == 1 || System.nanoTime() < end)) {
          attempted += 1
          ops += s"drop$i" -> drop(spark, i)
          i += 1
        }
      }
      windowS = (System.nanoTime() - w0) / 1e9
      if (i <= MeasuredDrops)
        System.err.println(s"curate_drops: cap reached after ${i - 1} of $MeasuredDrops drops")
      if (tr.traced) tr.drain(spark)
      val out = root.resolve("out")
      val packed = tr.span("streaming.PackStream.packed") {
        PackStream.packed(spark, out.resolve("pack").toString).cache()
      }
      packed.count()
      storeFiles = Files.walk(out).filter(p => Files.isRegularFile(p)).count()
      // the counts and the check, outside the timed window
      val docs = landed.map(p => spark.read.parquet(p.toString).count())
      docsLanded = docs.sum
      docsIn = docs.tail.sum
      val union = spark.read.parquet(landed.map(_.toString).toSeq: _*)
      val expSurv = Curation.curate(union).select(col("doc_id"))
      val gotSurv = spark.read.parquet(out.resolve("data").toString).select(col("doc_id"))
      survivors = gotSurv.count()
      val expPack = Curation.packIds(union.join(expSurv, "doc_id"), tokDir)
        .select(packed.columns.map(col): _*)
      def differ(a: DataFrame, b: DataFrame) =
        a.exceptAll(b).count() + b.exceptAll(a).count()
      val survBad = differ(gotSurv, expSurv)
      val packBad = differ(packed, expPack)
      if (survBad + packBad > 0)
        System.err.println(s"curate_drops: survivors differ by $survBad rows, packed by $packBad")
      if (survBad + packBad > 0) 1L else 0L
    }

    def metrics: Map[String, Any] = Map("docs_in" -> docsIn, "window_s" -> windowS,
      "survivors" -> survivors, "store_files" -> storeFiles)

    override def layerMetrics: Seq[(String, Double, String)] = Seq(
      ("curate.docs_in", docsIn.toDouble, "count"),
      ("curate.keep_ratio", survivors.toDouble / math.max(1L, docsLanded), "ratio"),
      ("curate.store_files", storeFiles.toDouble, "count"))
  }

  /** The reference's own job: the TCP source, the LogEntry projection and
    * the JSONL sink with the `ingest_metrics` observation, as
    * `IngestStream.start` wires them, at the default trigger. Frames come
    * from the generator process that run.py starts once this prints
    * READY; run.py then sends `DRAIN <records>` and the query stops once
    * that many records have landed (or after a timeout). */
  final class IngestTcp(o: Opts, tr: Collector) extends Workload(o, tr) {
    private var query: StreamingQuery = _

    def setup(spark: SparkSession): Unit = {
      import spark.implicits._
      // warm the projection and the JSON writer on 200 framed payloads
      val rnd = new scala.util.Random(o.seed)
      val df = (1 to 200).map(i => (rnd.nextBytes(1 + rnd.nextInt(8192)), "127.0.0.1"))
        .toDF("payload", "client_ip").withColumn("ts", current_timestamp())
      IngestStream.transform(df).write.mode("overwrite")
        .option("ignoreNullFields", "true").partitionBy("date").json(s"${o.work}/warm")
    }

    def run(spark: SparkSession): Long = {
      spark.sparkContext.setLocalProperty(Collector.ModuleKey, "streaming.IngestStream")
      val out = s"${o.work}/ingest/out"
      query = tr.span("streaming.start") {
        IngestStream.transform(IngestStream.fromTcp(spark, o.port))
          .observe("ingest_metrics",
            count(lit(1)).as("processed_requests"),
            sum(col("byte_count")).as("total_bytes_processed"))
          .writeStream
          .queryName("ingest")
          .format("json")
          .option("ignoreNullFields", "true")
          .partitionBy("date")
          .option("path", out)
          .option("checkpointLocation", s"${o.work}/ingest/ck")
          .outputMode("append")
          .start()
      }
      awaitListening()
      tr.armed = true
      traceFrom = System.currentTimeMillis()
      println("READY")
      System.out.flush()
      val cmd = scala.io.StdIn.readLine()
      val want = Option(cmd).map(_.split(" ")).collect { case Array("DRAIN", n) => n.toLong }
        .getOrElse(0L)
      val limit = System.nanoTime() + 60L * 1000000000L
      def landed = tr.triggers.filter(_.query == "ingest")
        .map(_.observed.getOrElse("ingest_metrics.processed_requests", 0L)).sum
      while (landed < want && System.nanoTime() < limit && query.isActive) Thread.sleep(20)
      traceTo = System.currentTimeMillis()
      tr.armed = false
      if (landed < want) 1L else 0L
    }

    /** Block until the source's listener accepts connections. The probe is
      * an empty connection, which the source drops. */
    private def awaitListening(): Unit = {
      val limit = System.nanoTime() + 60L * 1000000000L
      var ok = false
      while (!ok && System.nanoTime() < limit) {
        try {
          val s = new java.net.Socket("127.0.0.1", o.port)
          s.shutdownOutput(); s.getInputStream.read(); s.close(); ok = true
        } catch { case _: java.io.IOException => Thread.sleep(50) }
      }
      require(ok, s"ingest source never listened on ${o.port}")
    }

    override def stop(): Unit = if (query != null) { query.stop() }

    def metrics: Map[String, Any] = Map.empty
  }
}

/** The memory the program holds: the most heap left in use after any
  * garbage collection, plus the peak of the non-heap pools (metaspace,
  * code cache). Unlike the resident set, this does not follow when the
  * collector chooses to grow the heap. */
object Memory {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.NotificationEmitter
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var heapAfterGcMax = 0L
  private def pools(t: MemoryType) =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == t)

  def install(): Unit = {
    val heap = pools(MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[NotificationEmitter].addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heap(k) => v.getUsed }.sum
          synchronized { heapAfterGcMax = math.max(heapAfterGcMax, used) }
        }, null, null)
    }
  }

  /** In MiB. Collects once first, so a run with no collection still counts
    * what it holds at the end. */
  def peakMb(): Double = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val heap = synchronized(math.max(heapAfterGcMax, now))
    val nonHeap = pools(MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (heap + nonHeap) / 1048576.0
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(of).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
