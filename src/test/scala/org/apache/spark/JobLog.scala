package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a body starts, one entry per job: the call site of its
  * first stage (`"collect at TokenizerStore.scala:80"`). Exact, not
  * sleep-based: the listener bus is drained before the listener attaches
  * and again before it detaches (the package-private `waitUntilEmpty`),
  * so no job-start event is missed or leaks in from earlier work. */
object JobLog {
  def of(sc: SparkContext)(body: => Unit): Seq[String] = {
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse(""))
        ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
