package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

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

/** The executed plans of the queries a body runs, one per query
  * execution, captured through a `QueryExecutionListener` and drained
  * like [[JobLog]]. Streaming queries clone the session's listeners at
  * start, so a stream started inside `body` reports its per-trigger
  * queries here too. */
object PlanLog {
  def of(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan)
        ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      body
      spark.sparkContext.listenerBus.waitUntilEmpty()
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }
}
