package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one operation
  * share `trace`; `parent` is the id of the enclosing span, 0 at the top. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long)

/** Per-trigger record of a streaming query (the `durationMs` phases of the
  * progress API), kept whether or not tracing is on: the ingest workload
  * needs the batch end times and observed totals for its end-to-end
  * latency and its correctness check. */
final case class Trigger(query: String, batchId: Long, endEpochMs: Long,
    rows: Long, backlog: Long, durations: Map[String, Long],
    observed: Map[String, Long])

/** The benchmark's collector. Untraced, it records only streaming
  * progress. Traced, it also registers a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (planning phases) and records spans
  * around the benchmark's calls into each layer. Everything stays in
  * memory until [[spansJsonl]] writes it out at the end.
  *
  * Counting is scoped: only events that arrive while [[armed]] is set are
  * counted, so a traced run counts one fixed unit of work and its job,
  * stage and task counts repeat run to run. */
final class Collector(val traced: Boolean) {
  @volatile var armed = false
  private val callbackNs = new AtomicLong(0)
  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  // ------------------------------------------------------------- spans
  private val spanSeq = new AtomicLong(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, trace id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Run `f` inside a span named `name`. A span opened outside any other
    * starts a new trace. Untraced runs only evaluate `f`. */
  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val id = spanSeq.incrementAndGet()
      val (parent, trace) = stack.get() match {
        case (p, t) :: _ => (p, t)
        case Nil => (0L, id)
      }
      stack.set((id, trace) :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spanBuf.synchronized(spanBuf += Span(id, parent, trace, name, t0, t1))
      }
    }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)

  /** Mean duration of the spans named exactly `name`, 0 if none. */
  def spanMeanMs(name: String): Double = {
    val ds = spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)
    if (ds.isEmpty) 0.0 else ds.sum / ds.size
  }

  // --------------------------------------------------------- streaming
  private val triggerBuf = mutable.ArrayBuffer.empty[Trigger]

  def triggers: Seq[Trigger] = triggerBuf.synchronized(triggerBuf.toList)

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs
      val durations = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
        "walCommit", "commitOffsets", "triggerExecution")
        .map(k => k -> (if (d.containsKey(k)) d.get(k).longValue else 0L)).toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val backlog = p.sources.map { s =>
        def n(o: String) = scala.util.Try(o.trim.toLong).getOrElse(0L)
        math.max(0L, n(s.latestOffset) - n(s.endOffset))
      }.sum
      val observed = mutable.Map.empty[String, Long]
      p.observedMetrics.forEach { (name, row) =>
        row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
          observed(s"$name.$f") = if (row.isNullAt(i)) 0L else row.getAs[Number](i).longValue
        }
      }
      triggerBuf.synchronized(triggerBuf += Trigger(Option(p.name).getOrElse(p.id.toString),
        p.batchId, start + durations("triggerExecution"), p.numInputRows, backlog,
        durations, observed.toMap))
    }
  }

  // ------------------------------------------------------------- spark
  /** Job and task totals for one attribution key ("spark" for all). */
  final class Tally {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs, shufR, shufW, spill, inBytes, outBytes = 0L
  }
  private val tallies = mutable.Map.empty[String, Tally]
  private def tally(k: String) = tallies.getOrElseUpdate(k, new Tally)
  private val stageModule = mutable.Map.empty[Int, String]
  private val jobSpans = mutable.Map.empty[Int, (Long, Long)] // job → (start, end) epoch ms
  private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** The graft module named in a job's call site (innermost engine frame),
    * else the module the benchmark declared for the running operation.
    *
    * A stream's thread carries the call site of the query's `start()` for
    * every job it runs, so for a micro-batch job the call site is read
    * from that thread's stack instead, sampled as the event arrives, while
    * the thread normally still waits for the job. */
  private val Frame = """graft\.(operators|streaming|sources|functions|core)\.([A-Za-z]+)""".r
  private def moduleOf(props: java.util.Properties): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val site = prop("sql.streaming.queryId").flatMap(streamThreadStack)
      .orElse(prop("callSite.long")).getOrElse("")
    Frame.findFirstMatchIn(site).map(m => s"${m.group(1)}.${m.group(2)}")
      .orElse(prop(Collector.ModuleKey))
      .getOrElse("other")
  }

  private def streamThreadStack(queryId: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.asScala.collectFirst {
      case (t, st) if t.getName.startsWith("stream execution thread") &&
          t.getName.contains(queryId) => st.mkString("\n")
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      if (armed) tallies.synchronized {
        val m = moduleOf(e.properties)
        Seq(tally("spark"), tally(m)).foreach { t => t.jobs += 1 }
        e.stageIds.foreach(s => stageModule(s) = m)
        jobSpans(e.jobId) = (e.time, -1L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      tallies.synchronized {
        jobSpans.get(e.jobId).foreach { case (s, _) => jobSpans(e.jobId) = (s, e.time) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      tallies.synchronized {
        stageModule.get(e.stageInfo.stageId).foreach { m =>
          Seq(tally("spark"), tally(m)).foreach(_.stages += 1)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tallies.synchronized {
        stageModule.get(e.stageId).foreach { m =>
          val tm = e.taskMetrics
          val info = e.taskInfo
          Seq(tally("spark"), tally(m)).foreach { t =>
            t.tasks += 1
            if (tm != null) {
              t.runMs += tm.executorRunTime
              t.cpuNs += tm.executorCpuTime
              t.gcMs += tm.jvmGCTime
              t.shufR += tm.shuffleReadMetrics.totalBytesRead
              t.shufW += tm.shuffleWriteMetrics.bytesWritten
              t.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
              t.inBytes += tm.inputMetrics.bytesRead
              t.outBytes += tm.outputMetrics.bytesWritten
              // the UI's scheduler delay: task lifetime not spent running,
              // deserializing or shipping its result
              t.schedMs += math.max(0L, info.duration - tm.executorRunTime -
                tm.executorDeserializeTime - tm.resultSerializationTime -
                (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
            }
          }
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      if (armed) phaseMs.synchronized {
        qe.tracker.phases.foreach { case (k, v) => phaseMs(k) += v.durationMs }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Register on a session: always the streaming listener, the rest only
    * when traced. */
  def attach(spark: SparkSession): Unit = {
    spark.streams.addListener(streamListener)
    if (traced) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
    }
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchAccess.drain(spark.sparkContext)

  /** Wall time of `[fromMs, toMs]` not covered by any counted job. */
  def driverGapMs(fromMs: Long, toMs: Long): Long = {
    val iv = tallies.synchronized(jobSpans.values.toList)
      .map { case (s, e) => (math.max(s, fromMs), math.min(if (e < 0) toMs else e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    (toMs - fromMs) - covered
  }

  def callbackMs: Double = callbackNs.get / 1e6

  /** The spark.*, core.* and module-level per-layer metrics. */
  def layerMetrics(windowMs: (Long, Long)): Seq[(String, Double, String)] = {
    val s = tallies.synchronized(tallies.getOrElse("spark", new Tally))
    def mod(k: String) = tallies.synchronized(tallies.getOrElse(k, new Tally))
    val spark = Seq(
      ("spark.jobs", s.jobs.toDouble, "count"), ("spark.stages", s.stages.toDouble, "count"),
      ("spark.tasks", s.tasks.toDouble, "count"), ("spark.exec_run_ms", s.runMs.toDouble, "ms"),
      ("spark.exec_cpu_ms", s.cpuNs / 1e6, "ms"), ("spark.gc_ms", s.gcMs.toDouble, "ms"),
      ("spark.sched_wait_ms", s.schedMs.toDouble, "ms"),
      ("spark.driver_gap_ms", driverGapMs(windowMs._1, windowMs._2).toDouble, "ms"),
      ("spark.shuffle_read_bytes", s.shufR.toDouble, "bytes"),
      ("spark.shuffle_write_bytes", s.shufW.toDouble, "bytes"),
      ("spark.spill_bytes", s.spill.toDouble, "bytes"),
      ("spark.input_bytes", s.inBytes.toDouble, "bytes"),
      ("spark.output_bytes", s.outBytes.toDouble, "bytes"))
    val core = phaseMs.synchronized(Seq(
      ("core.analysis_ms", phaseMs("analysis").toDouble, "ms"),
      ("core.optimization_ms", phaseMs("optimization").toDouble, "ms"),
      ("core.planning_ms", phaseMs("planning").toDouble, "ms")))
    val mods = Collector.OperatorModules.map("operators." + _) ++
      Collector.StreamingModules.map("streaming." + _)
    val perMod = mods.flatMap { m =>
      val t = mod(m)
      Seq((s"$m.jobs", t.jobs.toDouble, "count"), (s"$m.exec_run_ms", t.runMs.toDouble, "ms"))
    }
    spark ++ core ++ perMod
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def spansJsonl: String = spans.sortBy(_.startNs).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("", "\n", "\n")
}

object Collector {
  /** Local property naming the module of the operation being run. */
  val ModuleKey = "perfbench.module"
  val OperatorModules = Seq("Curation", "TokenizerStore")
  val StreamingModules = Seq("IngestStream", "CurateStream", "PackStream", "Maintenance")
}
