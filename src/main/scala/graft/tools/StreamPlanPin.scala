package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Dedup
import graft.streaming.EventStreams

/** Streaming-plan drift pin (VERDICT r10 item 5): [[PlanPin]] covers
  * the batch skeletons, but the S-family queries EXECUTE as micro-batch
  * `IncrementalExecution` plans — state-store operators, watermark
  * filters, and the per-trigger join strategy only exist there, so a
  * broadcast→shuffle flip inside a trigger or a state-store format
  * drift was invisible to the batch pins and would have surfaced only
  * as a bench mystery.
  *
  * Each pinned entry starts the REAL streaming transform on a
  * MemoryStream with a deterministic three-row batch, runs one trigger
  * to completion, and skeletonizes `lastExecution.executedPlan` — the
  * plan that actually runs per micro-batch (`StateStoreRestore`/
  * `StateStoreSave`, `SessionWindowStateStore…`, broadcast exchanges
  * and all). Plus the per-batch core of the xs_curate_stream pipeline
  * (its in-batch minhash band self-join), pinned as the batch plan the
  * `foreachBatch` body builds every trigger.
  *
  * Committed to `STREAMPINS.txt`; `StreamPlanPinSpec` recomputes and
  * fails on drift. Regenerate after an INTENTIONAL change with
  * `sbt "runMain graft.tools.StreamPinWrite"`.
  */
object StreamPlanPin {
  val pinFile = "STREAMPINS.txt"
  val sfDir = "/root/testdata/sf0.001"

  final case class PinEv(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  private def t(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  private val rows = Seq(
    PinEv(1, t(0), 1, "click", 1.0, "{}"),
    PinEv(2, t(3), 2, "view", 2.0, "{}"),
    PinEv(3, t(12), 1, "click", 4.0, "{}"))

  /** Run one micro-batch of `transform` over a MemoryStream and return
    * the executed IncrementalExecution plan's skeleton. */
  private def microBatchSkeleton(spark: SparkSession,
      transform: DataFrame => DataFrame, outputMode: String): String = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[PinEv]
    mem.addData(rows: _*)
    val q = transform(mem.toDF()).writeStream.format("noop")
      .outputMode(outputMode).start()
    try q.processAllAvailable() finally q.stop()
    PlanPin.skeletonOf(q.asInstanceOf[StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan)
  }

  /** The xs_curate_stream per-batch near-dup core: the shape built by
    * `CurateStream.processBatch` every trigger — shingle → fused
    * minhash signature → banded LSH self-join. Batch frame, so the
    * skeleton comes from the ordinary physical plan. */
  private def curateBatchNearDup(spark: SparkSession): String = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "wholly different content with its own words here"))
      .toDF("doc_id", "text")
    val shingled = Dedup.shingleAndSign(docs, Dedup.wordShingleHashes)
    PlanPin.skeletonOf(
      Dedup.lshCandidates(shingled).queryExecution.executedPlan)
  }

  /** The xs_curate_lm_gate per-batch core: the quality gate's scoring
    * semi-join against the FROZEN TokenizerStore tables, as built every
    * trigger — the plan must stay (left-semi over (bigram window →
    * two broadcast joins against the frozen count parquet → 1-row
    * vocab BNLJ)); a flip of the frozen-table joins to shuffle inside
    * the per-batch plan is exactly the drift this pin catches. */
  private def curateBatchLmGate(spark: SparkSession): String = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma delta epsilon"),
      (3L, "gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pin-lmgate").toString
    graft.operators.TokenizerStore.trainBigramLm(docs, dir)
    val gated = docs.join(
      graft.operators.TokenizerStore.scoreBigramLm(docs, dir)
        .filter(col("cross_entropy") < 99).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    PlanPin.skeletonOf(gated.queryExecution.executedPlan)
  }

  /** The xs_curate_dsir_gate per-batch core: the DSIR gate's scoring
    * semi-join against the FROZEN λ parquet, as built every trigger —
    * the plan must stay (left-semi over (feature explode → BROADCAST
    * join against the 256-row λ table → per-doc partial-agg sum)); a
    * broadcast→shuffle flip on the λ join would re-exchange the whole
    * batch by bucket and is exactly the drift this pin catches. */
  private def curateBatchDsirGate(spark: SparkSession): String = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "beta gamma delta epsilon", "xx"),
      (3L, "gamma delta epsilon zeta", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("pin-dsir").toString
    graft.operators.Curation.trainDsir(docs, col("lang") === "en", dir)
    val gated = docs.join(
      graft.operators.Curation.dsirScoreWith(
          docs.select(col("doc_id"), col("text")),
          graft.operators.Curation.loadDsir(spark, dir))
        .filter(col("logw") >= 0.0).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    PlanPin.skeletonOf(gated.queryExecution.executedPlan)
  }

  /** The xs_pack_stream per-batch core: the fragment frame
    * `PackStream.processBatch` builds every trigger — per-doc id
    * streams → bucketed prefix sum, materialized (the plan starts at
    * its checkpoint scan; bucket bases are a literal CASE, so no join
    * and no window may appear) → ONE per-token exchange keyed on
    * seq_id. A join or window re-entering the per-trigger plan (the
    * offsets recomputed per write), or a second per-token exchange, is
    * the drift this pin catches. */
  private def packBatchFragments(spark: SparkSession): String = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma delta epsilon"),
      (3L, "gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pin-pack").toString
    graft.operators.TokenizerStore.trainBpe(docs, dir, 8, 256)
    val perDoc = graft.operators.Curation.perDocIds(docs, dir)
    val withOff = graft.operators.Curation
      .packOffsetsWithTotal(perDoc, "n", 32, Some("n_words")).offsets
      .withColumn("off", col("offset_tokens") + lit(0L))
    PlanPin.skeletonOf(
      graft.streaming.PackStream.fragmentsOf(withOff, 512)
        .queryExecution.executedPlan)
  }

  /** The s7 transformWithState micro-batch: the plan must keep exactly
    * one `TransformWithStateExec` over one keyed exchange (RocksDB
    * provider required — swapped in around the trigger like the
    * declared drive does). */
  private def userTotalsSkeleton(spark: SparkSession): String = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try microBatchSkeleton(spark, ev => {
      import spark.implicits._
      graft.streaming.UserTotals.totals(
        ev.select(col("user_id"), col("event_type"), col("value"))
          .as[graft.streaming.UserTotals.UserEvent]).toDF()
    }, "update")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The xs_media_features per-batch core: synthesize + decode +
    * feature-extract must stay ONE map-only object pipeline over the
    * batch scan — any exchange appearing here means the ingest decode
    * pass started shuffling payload bytes. */
  private def mediaBatchFeatures(spark: SparkSession): String = {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta"),
      (3L, "eta theta iota"))
      .toDF("doc_id", "text")
    PlanPin.skeletonOf(
      graft.operators.Multimodal.jpegFeaturesOf(
        graft.operators.Multimodal.jpegRecordsOf(docs))
        .queryExecution.executedPlan)
  }

  /** The xs_bitext_stream per-batch NEW shape: the forward-state merge
    * (persisted state ∪ drop-local top-k → one probe-keyed window rank).
    * Must stay ONE exchange + ONE window — a second exchange here means
    * the union sides started shuffling independently, turning the
    * O(k·|S|) merge into two corpus-wide reshuffles per drop. (The
    * scoring join itself is pinned by the dsir-gate/cosine pins'
    * broadcast discipline.) */
  private def bitextFwdMerge(spark: SparkSession): String = {
    import spark.implicits._
    def knn(ids: Seq[Long]) = ids.map(i => (i, 1, i + 100L, 0.5))
      .toDF("probe_id", "rnk", "neighbor_id", "sim")
    PlanPin.skeletonOf(
      graft.streaming.BitextStream.mergeTopK(knn(Seq(1L, 2L)), knn(Seq(3L)), 4)
        .queryExecution.executedPlan)
  }

  def currentSkeletons(spark: SparkSession): Seq[(String, String)] = Seq(
    "s1_tumbling_window_microbatch" ->
      microBatchSkeleton(spark, EventStreams.tumbling, "complete"),
    "s4_stream_static_join_microbatch" ->
      microBatchSkeleton(spark,
        ev => EventStreams.enrichAgg(ev,
          Tables.load(spark, sfDir, "customer")), "complete"),
    "s6_distinct_users_microbatch" ->
      microBatchSkeleton(spark, EventStreams.windowDistinctUsers, "complete"),
    "s3_dedup_microbatch" ->
      microBatchSkeleton(spark, EventStreams.dedupStream, "append"),
    "s7_user_totals_microbatch" -> userTotalsSkeleton(spark),
    "xs_curate_batch_neardup" -> curateBatchNearDup(spark),
    "xs_curate_batch_lmgate" -> curateBatchLmGate(spark),
    "xs_curate_batch_dsirgate" -> curateBatchDsirGate(spark),
    "xs_pack_batch_fragments" -> packBatchFragments(spark),
    "xs_media_batch_features" -> mediaBatchFeatures(spark),
    "xs_bitext_fwd_merge" -> bitextFwdMerge(spark))
}

/** Regenerate STREAMPINS.txt after an intentional streaming-plan change. */
object StreamPinWrite {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(StreamPlanPin.pinFile),
      PlanPin.render(StreamPlanPin.currentSkeletons(spark)))
    println(s"WROTE ${StreamPlanPin.pinFile}")
    spark.stop()
  }
}
