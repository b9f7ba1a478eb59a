package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.core.Tables
import graft.operators.{Declared, Similarity}

/** Incremental margin-based bitext mining (VERDICT r19 #3): the
  * [[graft.operators.Similarity.bitextMine]] batch operator run as a
  * Structured Streaming loop over a GROWING target side — how
  * parallel-corpus mining over a live crawl actually deploys. New
  * target-language drops land daily; re-running both ranking passes
  * over all of history per drop is O(|S|·|T|) per day, this is
  * O(|S|·|t_N|) — the new drop's ranking work — plus an O(k·(|S|+|T|))
  * mining tail over the persisted k-NN statistics.
  *
  * Why this decomposes EXACTLY (stream ≡ batch, hash-for-hash):
  *   - backward pass (tgt probes → src corpus): the src side is the
  *     STANDING corpus, frozen by contract, so each target drop's
  *     per-probe top-k is computed once in its own batch and never
  *     changes — the union over batches IS the batch backward k-NN.
  *   - forward pass (src probes → tgt corpus): per-src top-k over a
  *     growing corpus is MERGEABLE — any globally-top-k neighbor of s
  *     is a fortiori in the top-k of s against its own drop, so
  *     (state ∪ drop-local top-k) re-ranked by the same
  *     (sim desc, neighbor_id) key and cut at k is the exact global
  *     top-k. The persisted forward state is k rows per src vector:
  *     the COMPRESSED sufficient statistic, k·|S| rows, not the corpus.
  *   - the mining tail (neighborhood means via Num.davg, margins,
  *     mutual-best, floor) is a pure function of the two k-NN tables,
  *     recomputed per batch over O(k·(|S|+|T|)) rows — "frozen
  *     neighborhood statistics" means frozen INPUTS: both tables are
  *     exact, so the recomputation is the batch computation.
  *
  * State is three per-batch stores under `outDir`, kept under the
  * [[Maintenance]] contract (a replayed batch re-lands its own
  * partition and reads only earlier ones):
  *   - `fwd/batch_id=N`: the merged per-src top-k AFTER batch N
  *     (k·|S| rows). Partitions ≤ N−2 are pruned after N lands —
  *     batch N−1 is the only one a replay of N can need (the fold
  *     `upTo` rule).
  *   - `bwd/batch_id=N`: batch N's per-tgt top-k (k·|t_N| rows,
  *     immutable deltas — all partitions are live inputs to the tail).
  *   - `mined/batch_id=N`: the full mined result after batch N
  *     (output-only; earlier partitions pruned — a replay regenerates).
  *
  * Scale posture: the backward pass broadcasts the DROP (batch-sized —
  * always fine). The forward pass broadcasts the src probe side, the
  * family's fixture-scale one-shot; a corpus-sized src routes through
  * [[graft.operators.Similarity.slicedTopKAcross]] via `fwdSliceSize`
  * — the same eager pmod-slice loop the batched miner uses, one
  * slice's broadcast live at a time. Ref behavior target: none in the
  * reference (LLM-pipeline extension, SURVEY §2B).
  */
object BitextStream {

  private val Knn = StructType.fromDDL("probe_id BIGINT, rnk INT, neighbor_id BIGINT, sim DOUBLE")
  private val MinedSchema = "src_id BIGINT, tgt_id BIGINT, sim DOUBLE, margin DOUBLE"

  /** Exact top-k merge: union the state with the drop-local top-k and
    * re-rank per probe by the SAME (sim desc, neighbor_id) key the
    * one-shot pass uses. No (probe, neighbor) pair can repeat — a
    * neighbor belongs to exactly one drop. */
  private[graft] def mergeTopK(state: DataFrame, fresh: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    state.select(col("probe_id"), col("neighbor_id"), col("sim"))
      .union(fresh.select(col("probe_id"), col("neighbor_id"), col("sim")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  /** One micro-batch (exposed for the replay spec: re-running the same
    * `batchId` must converge, not double-mine). */
  private[streaming] def processBatch(tgtBatch: DataFrame, batchId: Long,
      src: DataFrame, outDir: String, k: Int, minMargin: Double,
      fwdSliceSize: Option[Long] = None): Unit = {
    val sp = tgtBatch.sparkSession
    val fwdDir = s"$outDir/fwd"; val bwdDir = s"$outDir/bwd"
    val minedDir = s"$outDir/mined"
    val fs = new Path(outDir).getFileSystem(sp.sparkContext.hadoopConfiguration)
    // backward: this drop's probes against the standing src corpus —
    // batch-sized broadcast, one scoring pass, landed as an immutable
    // per-batch delta
    Maintenance.land(Similarity.cosineTopKAcross(src, tgtBatch, k), bwdDir, batchId)
    // forward: src probes against THIS DROP only (the incremental
    // ranking work), merged with the previous batch's persisted state.
    // The sliced path lands its slice scratch under the stream's own
    // store and deletes it once the merged state is persisted — a
    // service-lifetime start() must not accumulate per-batch temp dirs
    // that a reap-at-exit store would hold until process death.
    val fwdScratch = s"$outDir/_fwd_scratch"
    // the drop is the scoring CORPUS here, and the pass's parallelism is
    // bounded by the corpus side's partition count (the probe side is
    // broadcast) — but a micro-batch arrives partitioned by file BYTES
    // (often 1-2 tiny splits) while the scoring work is |S|·|t_N| PAIRS,
    // so a corpus-sized src against a byte-small drop would run on 2 of
    // N cores. Repartition the drop to the cluster's parallelism before
    // the forward pass (batch-sized shuffle — cheap; BENCHNOTES r20
    // "the incremental-mining claim, priced": 134 s/drop → the
    // pair-proportional cost)
    val tgtCorpus = tgtBatch.repartition(sp.sparkContext.defaultParallelism)
    val fwdFresh = fwdSliceSize match {
      case Some(sz) => Similarity.slicedTopKAcross(tgtCorpus, src, sz, k,
        s"stream-fwd-$batchId", scratchRoot = Some(fwdScratch))
      case None => Similarity.cosineTopKAcross(tgtCorpus, src, k)
    }
    // the previous state is the newest gated batch below this one, read
    // as its own partition (k·|S| rows, not the store)
    val fwdState = Maintenance.gatedBatches(sp, fwdDir)
        .flatMap(_.filter(_ < batchId).lastOption) match {
      case Some(m) => mergeTopK(
        sp.read.schema(Knn).parquet(Maintenance.batchPath(fwdDir, m)), fwdFresh, k)
      case None => mergeTopK(fwdFresh.limit(0), fwdFresh, k)
    }
    Maintenance.land(fwdState, fwdDir, batchId)
    if (fwdSliceSize.isDefined) fs.delete(new Path(fwdScratch), true)
    // the mining tail over the two persisted k-NN statistics: read the
    // forward state JUST landed (own partition — deterministic
    // recompute under replay) and every backward delta ≤ this batch
    val fwdAll = sp.read.schema(Knn).parquet(Maintenance.batchPath(fwdDir, batchId))
    val bwdAll = Maintenance.readBatches(sp, bwdDir, Knn, col("batch_id") <= batchId)
      .getOrElse(throw new IllegalStateException(
        s"BitextStream: $bwdDir vanished after batch $batchId landed in it"))
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("sim"))
    Maintenance.land(Similarity.mineFromKnn(fwdAll, bwdAll, minMargin), minedDir, batchId)
    // prune: fwd ≤ N−2 (a replay of N reads only N−1), mined ≤ N−1
    // (output-only — a replay regenerates its own)
    def prune(dir: String, upTo: Long): Unit =
      Maintenance.listBatches(sp, dir).toSeq.flatMap(_.ids).filter(_ <= upTo)
        .foreach(b => fs.delete(new Path(Maintenance.batchPath(dir, b)), true))
    prune(fwdDir, batchId - 2)
    prune(minedDir, batchId - 1)
  }

  /** The streaming loop: file-source increments of target-side vectors,
    * checkpoint-tracked, AvailableNow per pass. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, src: DataFrame, k: Int, minMargin: Double,
      fwdSliceSize: Option[Long] = None): StreamingQuery = {
    require(k >= 1, s"BitextStream: k must be >= 1, got $k")
    require(minMargin > 0,
      s"BitextStream: minMargin must be positive, got $minMargin")
    Drops.availableNow(spark, Tables.embeddings, inDir, checkpoint) {
      (batch, batchId) =>
        processBatch(batch, batchId, src, outDir, k, minMargin, fwdSliceSize)
    }
  }

  // ----------------------------------------------------------- declared
  /** Stream-vs-batch parity, driver-oracled: the x2_bitext_mine fixture
    * (even half = standing src, odd half = target) with the target side
    * delivered as three vec_id-ordered drops through one checkpoint;
    * the final batch's mined store must hash-match the ONE-SHOT batch
    * oracle — the incremental merge/tail composition proof at the
    * driver gate, not just in a spec. */
  private def xsBitextStream(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    // the shared three-drops discipline (one source of truth for the
    // cut arithmetic the batch-assignment oracles restate), keyed on
    // vec_id instead of doc_id
    val root = Drops.three(tgt, "xs-bitext-stream", idCol = "vec_id") { root =>
      start(spark, s"$root/in/*", s"$root/out", s"$root/ck", src, k = 4,
        minMargin = 1.0).awaitTermination()
    }
    // after the final pass only the last batch's mined partition
    // remains (earlier ones pruned in-stream)
    spark.read.schema(s"$MinedSchema, batch_id BIGINT")
      .parquet(s"$root/out/mined")
      .select(col("src_id"), col("tgt_id"), col("sim"), col("margin"))
      .orderBy(col("src_id"))
  }

  val all: Seq[Declared] = Seq(
    Declared("xs_bitext_stream", xsBitextStream,
      Some(Similarity.x2BitextMineSql)))
}
