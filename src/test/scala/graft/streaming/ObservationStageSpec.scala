package graft.streaming

import org.apache.spark.PlanLog
import org.apache.spark.sql.execution.{CollectMetricsExec, CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{Curation, TokenizerStore}

/** Every `Observation` whose value feeds pack offsets, the stream's
  * carry or a returned count must sit in its action's RESULT stage:
  * the scheduler merges a result task's accumulator updates once per
  * partition, but a shuffle-map task's on every successful attempt, so
  * an observation below an exchange double-counts under a stage retry.
  * Checked on the executed plans (AQE query stages included) of a
  * `PackStream` trigger, a batch `packIds` and two store folds. */
class ObservationStageSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf("sf0.001"), "documents")

  /** Each `CollectMetricsExec` in `plan` paired with whether a shuffle
    * exchange (or its AQE query stage) is among its ancestors. */
  private def observations(plan: SparkPlan, underShuffle: Boolean = false)
      : Seq[(CollectMetricsExec, Boolean)] = {
    val below = underShuffle || plan.isInstanceOf[ShuffleExchangeLike] ||
      plan.isInstanceOf[ShuffleQueryStageExec]
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case p => p.children
    }
    (plan match {
      case c: CollectMetricsExec => Seq(c -> underShuffle)
      case _ => Nil
    }) ++ kids.flatMap(observations(_, below))
  }

  /** Runs `body`, asserts it executed `expected` observations and that
    * none of them sits below a shuffle. */
  private def assertResultStage(expected: Int)(body: => Unit): Unit = {
    val plans = PlanLog.of(spark)(body)
    val obs = plans.flatMap(observations(_))
    assert(obs.size == expected, plans.mkString("\n\n"))
    val bad = obs.collect { case (c, true) => c.name }
    assert(bad.isEmpty, s"observations below an exchange: $bad\n" + plans.mkString("\n\n"))
  }

  private def trainTok(): String = {
    val d = java.nio.file.Files.createTempDirectory("obsstage-tok").toString
    TokenizerStore.trainBpe(docs, d, 8, 256)
    d
  }

  test("a PackStream trigger's offsets observations sit in their result stages") {
    val root = java.nio.file.Files.createTempDirectory("obsstage-pack").toString
    val tok = trainTok()
    docs.coalesce(2).write.parquet(s"$root/in/drop0.parquet")
    // the input materialization and the window materialization
    assertResultStage(2) {
      PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok)
        .awaitTermination()
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("batch packIds' offsets observations sit in their result stages") {
    val tok = trainTok()
    assertResultStage(2)(Curation.packIds(docs, tok).collect())
  }

  test("compactBatchStore's row count sits in the fold's result stage") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("obsstage-keys").toString
    Seq("k1", "k2").toDF("_key").write.parquet(s"$dir/batch_id=0")
    Seq("k2", "k3").toDF("_key").write.parquet(s"$dir/batch_id=1")
    // an identity fold (the key store's) and a merging one, whose
    // aggregation brings its own exchange
    var n = 0L
    assertResultStage(1) {
      n = Maintenance.compactBatchStore(spark, dir, upTo = 1, CurateStream.keysData,
        fold = _.distinct())
    }
    assert(n == 3L)
    Seq("k4").toDF("_key").write.parquet(s"$dir/batch_id=2")
    assertResultStage(1) {
      n = Maintenance.compactBatchStore(spark, dir, upTo = 2, CurateStream.keysData)
    }
    assert(n == 4L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
