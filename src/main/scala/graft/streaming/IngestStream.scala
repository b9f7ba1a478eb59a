package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Ingest

/** S4 — the reference's ingest pipeline as a Structured Streaming job
  * (SURVEY.md §2A rows 1-13, 16-18).
  *
  * source → frame → empty-filter → hex/%q/severity/timestamp → LogEntry
  * JSON → date-partitioned append JSONL sink (+ console), with the
  * running-counter metrics (processed records, total bytes) reported per
  * 30 s trigger and a final snapshot on termination — mirroring the
  * reference's 30 s ticker and shutdown report (main.go:145-170) without
  * any driver-side state: metrics ride the `observe` channel of each
  * micro-batch.
  *
  * Scale posture: the pipeline is narrow (no shuffle, whole-stage
  * codegen'd projection). Parallelism is the source's input partitions:
  * file partitions for [[fromDirectory]], but exactly one per micro-batch
  * for [[fromTcp]], whose source plans the buffered slice as a single
  * `InputPartition` — so a TCP trigger's projection and sink write run in
  * one task, and per-record CPU sets how fast a trigger drains its
  * backlog. On random binary frames of 3.6 KiB mean (4-core VM, traced
  * `perfbench` ingest_tcp run, seed 7), executor CPU is about 0.8 ms per
  * accepted frame: roughly 0.1 ms each for the Go-%q kernel and
  * `lower(hex(...))`, the rest JSON encoding and writing a LogEntry line
  * about 5× the payload (BENCHNOTES "Ingest %q kernel"). A trigger's
  * fixed cost is mostly the write job's scheduling. Medians from the
  * Spark event log of five untraced runs (BENCHNOTES "Part files without
  * forks"): a trigger takes 150 ms — `addBatch` 131 ms, `queryPlanning`
  * 13.5 ms, `walCommit` and `commitOffsets` about 1 ms each. In the
  * 80 ms write job, 25 ms pass from job submit to task launch and 24 ms
  * in task deserialization, much of both spent writing the session's
  * 113 KB Hadoop `Configuration` into the task binary and reading it
  * back; the task itself runs 17.5 ms, 14 ms of it CPU.
  * Admission control and worker pooling from the reference
  * (main.go:25-27,127-143) are owned by the engine: `maxFilesPerTrigger`
  * rate-limits directory intake, the task scheduler places the tasks.
  */
object IngestStream {

  /** Directory drop-box source: each file is one framed message (the
    * batch analog of the reference's 1 s-gap framing, which belongs to
    * the transport edge — SURVEY.md §7 "hard parts"). */
  def fromDirectory(spark: SparkSession, inDir: String, maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .format("binaryFile")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(StructType(Seq( // binaryFile's fixed schema, declared not inferred
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(inDir)
      .select(
        col("content").as("payload"),
        col("modificationTime").as("ts"),
        regexp_extract(col("path"), "([^/]+)$", 1).as("client_ip"))

  /** Binary TCP source with the reference's gap framing, via the custom
    * DSv2 [[graft.sources.TcpBinaryTableProvider]] (SURVEY.md §2A#1-2). */
  def fromTcp(spark: SparkSession, port: Int, gapMillis: Long = 1000L): DataFrame =
    spark.readStream
      .format("graft.sources.TcpBinaryTableProvider")
      .option("port", port)
      .option("gapMillis", gapMillis)
      .load()
      .select(col("payload"), col("ts"), col("client_ip"))

  /** Line-framed TCP source (built-in; text only — binary fidelity needs
    * the DSv2 source, SURVEY.md §4 item 1). */
  def fromSocket(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket").option("host", host).option("port", port)
      .load()
      .select(
        col("value").cast(BinaryType).as("payload"),
        current_timestamp().as("ts"),
        lit(s"$host:$port").as("client_ip"))

  /** The shared pipeline body — identical logic to the batch Q12 path.
    * LogEntry fields are projected as top-level columns straight from
    * [[Ingest.logEntryFields]], with no struct to build and unpack; the
    * JSON sink writes them one-object-per-line with `ignoreNullFields`
    * reproducing Go's omitempty (reference main.go:43-53). */
  def transform(payloads: DataFrame): DataFrame =
    payloads
      .filter(Ingest.nonEmpty(col("payload")))
      .select(Ingest.logEntryFields(col("ts"), col("payload"), col("client_ip")) :+
        to_date(col("ts")).as("date"): _*)

  /** Single-string JSONL form (console echo / socket-ack payloads). */
  def transformJson(payloads: DataFrame): DataFrame =
    payloads
      .filter(Ingest.nonEmpty(col("payload")))
      .select(
        Ingest.toJson(Ingest.logEntry(col("ts"), col("payload"), col("client_ip"))).as("value"),
        to_date(col("ts")).as("date"))

  /** Start the JSONL sink query with observed metrics at a 30 s cadence.
    * The `date` partition column gives the daily-rotation layout the
    * reference gets from logrotate (configs/logrotate.conf:1-12); a
    * retention pass is [[dropExpiredPartitions]].
    */
  def start(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    transform(fromDirectory(spark, inDir))
      .observe("ingest_metrics",
        count(lit(1)).as("processed_requests"),
        sum(col("byte_count")).as("total_bytes_processed"))
      .writeStream
      .format("json")
      .option("ignoreNullFields", "true")
      .partitionBy("date")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Console echo sink (§2A#9, reference main.go:310-315): the JSONL
    * line of each record printed per micro-batch. The payload text is
    * the same [[transformJson]] the socket-ack path uses, so a console
    * regression is caught by any transformJson assertion. */
  def startConsole(
      payloads: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    transformJson(payloads)
      .select(col("value"))
      .writeStream
      .format("console")
      .option("truncate", "false")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** §2A#18 — documented-but-vestigial reference behavior (README.md:24):
    * each message also saved as a timestamped per-message text file under
    * `dataDir`, via a foreachBatch side-effect sink. */
  def startPerMessageFiles(
      spark: SparkSession,
      inDir: String,
      dataDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    fromDirectory(spark, inDir)
      .filter(graft.operators.Ingest.nonEmpty(col("payload")))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // executor-side writes to a shared FS — no rows ever reach the
        // driver. File names carry (partition, row-in-partition) so they
        // are unique and deterministic within a batch.
        batch.select(
            date_format(col("ts"), "yyyyMMdd'T'HHmmss").as("stamp"),
            col("client_ip"), col("payload"))
          .repartition(col("client_ip")) // co-locate a client's files per task
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val dir = java.nio.file.Paths.get(dataDir)
            java.nio.file.Files.createDirectories(dir)
            var i = 0
            it.foreach { r =>
              java.nio.file.Files.write(
                dir.resolve(s"${r.getString(0)}-$batchId-$pid-$i-${r.getString(1)}.txt"),
                r.getAs[Array[Byte]]("payload"))
              i += 1
            }
          }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Metrics reporter: logs each batch's observed counters (the 30 s
    * report, main.go:145-158) and a final cumulative snapshot on
    * termination (main.go:159-167). Cumulative totals live here, driver
    * side, exactly like the reference's atomics. */
  final class MetricsListener extends StreamingQueryListener {
    @volatile var processedRequests: Long = 0L
    @volatile var totalBytes: Long = 0L

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val m = e.progress.observedMetrics.get("ingest_metrics")
      if (m != null) {
        processedRequests += (if (m.isNullAt(0)) 0L else m.getLong(0))
        totalBytes += (if (m.isNullAt(1)) 0L else m.getLong(1))
        println(s"[metrics] processed=$processedRequests bytes=$totalBytes " +
          s"batch=${e.progress.batchId}")
      }
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      println(s"[metrics] FINAL processed=$processedRequests bytes=$totalBytes")
  }

  /** Health surface (§2A#19, reference README.md:28 — the documented
    * `/health` endpoint, vestigial in the reference's own main.go): the
    * ingest service's liveness/progress snapshot as a one-row DataFrame,
    * assembled driver-side from `StreamingQuery.status`/`lastProgress` —
    * zero Spark jobs, so a monitor can poll it on any cadence. An HTTP
    * deployment serves `health(...).toJSON.head()` verbatim; the columns
    * are the reference endpoint's status plus the throughput numbers its
    * 30 s report prints (main.go:145-158). */
  def health(spark: SparkSession, query: StreamingQuery): DataFrame = {
    import spark.implicits._
    val p = Option(query.lastProgress)
    Seq((
      Option(query.name).getOrElse(""),
      query.id.toString,
      query.isActive,
      query.status.message,
      query.status.isDataAvailable,
      query.status.isTriggerActive,
      p.map(_.batchId).getOrElse(-1L),
      p.map(_.numInputRows).getOrElse(0L),
      p.map(pp => if (pp.processedRowsPerSecond.isNaN) 0.0
        else pp.processedRowsPerSecond).getOrElse(0.0),
      query.exception.isDefined))
      .toDF("name", "query_id", "is_active", "status_message",
        "data_available", "trigger_active", "last_batch_id",
        "last_num_input_rows", "processed_rows_per_sec", "failed")
  }

  /** Retention: drop date partitions older than `keepDays` (reference
    * keeps 30 dailies, configs/logrotate.conf:2-4). Pure filesystem
    * maintenance — no data rewrite. */
  def dropExpiredPartitions(spark: SparkSession, outDir: String, keepDays: Int = 30): Unit = {
    import org.apache.hadoop.fs.Path
    val path = new Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val cutoff = java.time.LocalDate.now(java.time.ZoneOffset.UTC).minusDays(keepDays.toLong)
      fs.listStatus(path).foreach { st =>
        val name = st.getPath.getName
        // a name that is no date (Spark's `__HIVE_DEFAULT_PARTITION__`
        // for a null date, a stray copy) is never deleted
        val d = if (name.startsWith("date=")) scala.util.Try(
          java.time.LocalDate.parse(name.stripPrefix("date="))).toOption else None
        if (d.exists(_.isBefore(cutoff))) fs.delete(st.getPath, true)
      }
    }
  }
}
