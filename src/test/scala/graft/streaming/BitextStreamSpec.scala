package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental bitext mining: exact stream-vs-batch parity, replay
  * idempotence, store pruning, and the sliced forward-pass scale path. */
class BitextStreamSpec extends SparkSpec {

  private def halves() = {
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    (emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
  }

  private def minedRows(outDir: String) =
    spark.read
      .schema("src_id BIGINT, tgt_id BIGINT, sim DOUBLE, margin DOUBLE, batch_id BIGINT")
      .parquet(s"$outDir/mined")
      .select("src_id", "tgt_id", "sim", "margin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("three ordered target drops mine EXACTLY the one-shot batch result " +
      "(sims and margins bit-equal), and only the last mined/fwd partitions " +
      "survive pruning") {
    val (src, tgt) = halves()
    val root = java.nio.file.Files.createTempDirectory("bitext-parity").toString
    val r = tgt.agg(min(col("vec_id")), max(col("vec_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3; val cut2 = lo + 2 * ((hi - lo) / 3)
    Seq(col("vec_id") <= cut1,
        col("vec_id") > cut1 && col("vec_id") <= cut2,
        col("vec_id") > cut2).zipWithIndex.foreach { case (cond, i) =>
      tgt.filter(cond).coalesce(1).write.parquet(s"$root/in/drop$i.parquet")
      BitextStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck",
        src, 4, 1.0).awaitTermination()
    }
    val streamed = minedRows(s"$root/out")
    val batch = graft.operators.Similarity.bitextMine(src, tgt, 4, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed.nonEmpty, "degenerate fixture: nothing mined")
    assert(streamed == batch,
      s"stream != batch: ${streamed.take(3)} vs ${batch.take(3)}")
    // pruning: fwd keeps batches {1, 2} (a replay of 2 needs only 1),
    // mined keeps {2} (output-only)
    def parts(d: String) = new java.io.File(s"$root/out/$d").list()
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(parts("fwd") == Seq("batch_id=1", "batch_id=2"), parts("fwd"))
    assert(parts("mined") == Seq("batch_id=2"), parts("mined"))
    assert(parts("bwd") == Seq("batch_id=0", "batch_id=1", "batch_id=2"),
      parts("bwd")) // deltas all live — inputs to the mining tail
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("replaying a batch converges (same mined rows, no double-count) and " +
      "the sliced forward pass composes identically") {
    val (src, tgt) = halves()
    val mid = tgt.agg(expr("percentile_approx(vec_id, 0.5)")).head.getLong(0)
    val t0 = tgt.filter(col("vec_id") <= mid)
    val t1 = tgt.filter(col("vec_id") > mid)
    def drive(root: String, slice: Option[Long]): Seq[(Long, Long, Double, Double)] = {
      BitextStream.processBatch(t0, 0, src, s"$root/out", 4, 1.0, slice)
      BitextStream.processBatch(t1, 1, src, s"$root/out", 4, 1.0, slice)
      minedRows(s"$root/out")
    }
    val rootA = java.nio.file.Files.createTempDirectory("bitext-replay").toString
    val a = drive(rootA, None)
    // replay the LAST batch (the crash-before-checkpoint-commit case)
    BitextStream.processBatch(t1, 1, src, s"$rootA/out", 4, 1.0, None)
    assert(minedRows(s"$rootA/out") == a, "replay diverged")
    // sliced fwd path: 3-way slicing over the src probe side, same rows
    val rootB = java.nio.file.Files.createTempDirectory("bitext-sliced").toString
    val third = math.max(1L, (src.count() + 2) / 3)
    val b = drive(rootB, Some(third))
    assert(b == a, s"sliced fwd diverged: ${b.take(3)} vs ${a.take(3)}")
    // the per-batch slice scratch is caller-owned and deleted once the
    // merged fwd state lands — a long-lived stream must not accumulate it
    assert(!new java.io.File(s"$rootB/out/_fwd_scratch").exists(),
      "sliced fwd scratch survived the batch")
    Seq(rootA, rootB).foreach(r =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r)))
  }
}
