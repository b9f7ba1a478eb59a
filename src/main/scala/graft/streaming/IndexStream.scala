package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables
import graft.operators.{Declared, IndexStore}

/** Streaming ANN-index maintenance: the incremental half of
  * [[graft.operators.IndexStore]] driven by Structured Streaming — how
  * a 100 TB embedding corpus keeps its retrieval index current as
  * crawl/embedding drops land, without ever re-encoding history.
  *
  * Each micro-batch (file-source increments, checkpoint-tracked):
  * batch 0 TRAINS (sample-bounded codebooks + sampled centroids) and
  * encodes itself; every later batch encodes against the FROZEN
  * codebooks in one map-only pass ([[IndexStore.appendIvfPq]]) and
  * lands as its own `codes/batch_id=N/` partition. Queries
  * ([[IndexStore.searchIvfPq]]) see every committed batch.
  *
  * Delivery is exactly-once under replay: append overwrites the
  * batch's own partition (the CurateStream per-batch-directory
  * discipline), and a batch-0 replay rebuilds the same deterministic
  * artifacts (first-n-by-vec_id training) over the same input.
  * Training on the first drop is the PQ sampling argument one step
  * further — the first drop stands for the stream the way the
  * 2048-vector cap stands for the corpus; when drift breaks that
  * assumption, the maintainer REBUILDS (the `rebuildWhen` hook below)
  * — the oracle pins the frozen-codebook semantics, so a retrain can
  * never happen silently. "When drift demands it" has a number
  * attached: [[graft.operators.IndexDriftSpec]] pins the per-batch
  * mean reconstruction-error tripwire (a drifted drop encodes ~65×
  * worse under frozen books at the fixture; ≥10× fires) and that a
  * rebuild clears it (≥5× reduction) — the monitor rides the encode
  * pass for free as `pqEncode`'s `err`, lands as the per-batch
  * `stats/` artifact, and [[maintain]] ACTS on it.
  */
object IndexStream {

  /** One AvailableNow pass over `inDir` into the index at `ixDir`.
    *
    * `compactEvery` > 0 runs [[IndexStore.compactIvfPq]] every
    * that-many batches, INSIDE the stream and BEFORE the batch's own
    * append — the small-files control for a long-running stream (a
    * year of appends is one `codes/batch_id=N/` dir per micro-batch at
    * exactly the scale the index exists for), on the cadence every
    * in-stream store fold shares ([[Maintenance.foldDue]]): `upTo =
    * batchId − 1` is derived from the checkpoint itself, so only batches
    * that are committed — and can therefore never replay — are folded,
    * and the current batch's append lands after as its own directory. A
    * compaction crash leaves the manifest untouched — queries keep
    * serving the pre-compaction snapshot — and the checkpoint replays
    * this batch, whose compact call GCs the stranded fold attempt and
    * re-runs it (see [[IndexStore.compactIvfPq]]'s crash posture).
    *
    * `rebuildWhen` > 0 arms the drift hook: after each append, the
    * batch's persisted stats row is compared against the current
    * build's training-batch row ([[IndexStore.driftBreached]] — two
    * driver-side 1-line reads, zero Spark jobs), and a breach triggers
    * [[IndexStore.buildIvfPq]] over the input directory pinned to the
    * index's live ids, with `subsume = batchId`. The re-encode scan is
    * the honest cost of a rebuild (new codebooks re-mean every
    * existing code's semantics — incremental patching is not a thing
    * PQ supports); `subsume` + the live-id pin keep it replay-safe
    * (see [[maintain]]). ≥10 is the
    * [[graft.operators.IndexDriftSpec]]-calibrated firing line. */
  def start(spark: SparkSession, inDir: String, ixDir: String,
      checkpoint: String, nlist: Int = 16, m: Int = 4, k: Int = 16,
      iters: Int = 1, compactEvery: Int = 0,
      rebuildWhen: Double = 0.0): StreamingQuery =
    Drops.availableNow(spark, Tables.embeddings, inDir, checkpoint) {
      (batch, batchId) =>
        maintain(spark, inDir, ixDir, batch, batchId,
          nlist, m, k, iters, compactEvery, rebuildWhen)
    }

  /** One micro-batch of index maintenance — the foreachBatch body,
    * factored out so the replay shapes are spec-drivable without crash
    * injection.
    *
    * The rebuild corpus is the input directory SEMI-JOINED against the
    * index's live vec_ids ([[IndexStore.liveVecIds]]): exactly what the
    * index holds after this batch's append. Re-reading the directory
    * alone would also swallow files of batches the file source has not
    * yet processed (a producer can out-run the maintainer), and their
    * later appends would serve those vectors twice; the id-only
    * semi-join (8 B/row against a scan the rebuild pays anyway) pins
    * the corpus to processed batches. Deletes survive a rebuild for
    * the same reason: tombstoned ids are excluded from liveVecIds, so
    * they never re-enter the rebuilt index.
    *
    * Replay discipline, case by case:
    *   - batch 0 replay: deterministic rebuild over the same input;
    *   - batch N replay after a completed append: overwrite +
    *     idempotent re-commit ([[IndexStore.appendIvfPq]]);
    *   - batch N replay after a completed REBUILD: the manifest's
    *     `subsumed ≥ N` makes the append a no-op and skips the drift
    *     check — without the watermark the batch's vectors (already
    *     inside the rebuilt build batch) would be served twice;
    *   - a CRASHED rebuild never surfaces: the build commits by one
    *     manifest swap ([[IndexStore.buildIvfPq]]), so the replayed
    *     batch finds the old generation serving, re-appends
    *     idempotently, re-fires the tripwire, and re-runs the rebuild. */
  private[graft] def maintain(spark: SparkSession, inDir: String,
      ixDir: String, batch: DataFrame, batchId: Long, nlist: Int, m: Int,
      k: Int, iters: Int, compactEvery: Int, rebuildWhen: Double): Unit =
    maintainWith(spark, ixDir, batch, batchId, nlist, m, k, iters,
      compactEvery, rebuildWhen,
      () => spark.read.schema(Tables.embeddings).parquet(inDir))

  /** [[maintain]] with the rebuild corpus PARAMETERIZED — the shape a
    * stream whose input is not an embeddings glob needs
    * ([[CurateStream]]'s curate-and-index loop: its input is documents,
    * so its rebuild corpus is the RE-VECTORIZED curated store, a source
    * an input-directory re-read cannot express; the gap the r13 verdict
    * named). `corpus` supplies the raw upstream vectors and is invoked
    * only when the tripwire actually fires; the live-id semi-join pin —
    * the replay/exactly-once half of the contract — stays HERE, applied
    * to whatever the provider returns, so no provider can accidentally
    * drop it. */
  private[graft] def maintainWith(spark: SparkSession, ixDir: String,
      batch: DataFrame, batchId: Long, nlist: Int, m: Int, k: Int,
      iters: Int, compactEvery: Int, rebuildWhen: Double,
      corpus: () => DataFrame): Unit =
    if (batchId == 0L) IndexStore.buildIvfPq(batch, ixDir, nlist, m, k, iters)
    else {
      if (Maintenance.foldDue(batchId, compactEvery))
        IndexStore.compactIvfPq(spark, ixDir, upTo = batchId - 1)
      val fresh = batchId > IndexStore.readManifest(spark, ixDir).subsumed
      IndexStore.appendIvfPq(batch, ixDir, batchId)
      if (fresh && rebuildWhen > 0 &&
          IndexStore.driftBreached(spark, ixDir, batchId, rebuildWhen))
        IndexStore.buildIvfPq(
          corpus()
            .join(IndexStore.liveVecIds(spark, ixDir), Seq("vec_id"), "left_semi"),
          ixDir, nlist, m, k, iters, subsume = batchId)
    }

  // ----------------------------------------------------------- declared
  /** Stream-vs-replay parity, driver-oracled: the embeddings fixture
    * lands as three vec_id-ordered drops, one AvailableNow pass each
    * (shared checkpoint — three real micro-batches: build, append,
    * append), then the standard 10 probes query the accumulated index.
    * The oracle replays IVFADC with the training CTEs restricted to
    * the FIRST drop (`vec_id ≤ lo + (hi−lo)/3`), exactly the slice
    * batch 0 trained on — so codebook freezing, per-batch encoding,
    * and the search path are all value-checked end to end. */
  private def xsIndexStream(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // the shared three-drops harness (one source of truth for the cut
    // arithmetic the oracle restates, and the r20 single-scan staging
    // write); scratch is reaped at JVM exit by the harness
    val root = Drops.three(emb, "xs-index-stream", idCol = "vec_id") { root =>
      start(spark, s"$root/in/*", s"$root/ix", s"$root/ck").awaitTermination()
    }
    IndexStore.searchIvfPq(spark, s"$root/ix",
        emb.filter(col("vec_id") < 10), 4, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  private val xsIndexStreamSql =
    graft.operators.Similarity.ivfPqSearchSqlWith(
      prefix = "bounds AS (SELECT MIN(vec_id) AS blo, MAX(vec_id) AS bhi FROM embeddings),\n",
      trainWhere = "WHERE vec_id <= (SELECT blo + (bhi - blo) // 3 FROM bounds)")

  val all: Seq[Declared] = Seq(
    Declared("xs_index_stream", xsIndexStream, Some(xsIndexStreamSql)))
}
