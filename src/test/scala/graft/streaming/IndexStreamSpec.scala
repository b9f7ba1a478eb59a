package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.IndexStore

class IndexStreamSpec extends SparkSpec {

  test("streamed build+append equals the manual composition; replay adds nothing") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    val root = java.nio.file.Files.createTempDirectory("ixstream").toString
    val cut = n / 2
    emb.filter(col("vec_id") < cut).coalesce(1).write.parquet(s"$root/in/drop0.parquet")
    IndexStream.start(spark, s"$root/in/*", s"$root/ix", s"$root/ck").awaitTermination()
    emb.filter(col("vec_id") >= cut).coalesce(1).write.parquet(s"$root/in/drop1.parquet")
    IndexStream.start(spark, s"$root/in/*", s"$root/ix", s"$root/ck").awaitTermination()
    // every vector is indexed, across two batch partitions
    val codes = spark.read.parquet(s"$root/ix/codes")
    assert(codes.count() == n)
    assert(codes.select("batch_id").distinct().count() == 2)
    // identical to the manual build-then-append composition
    val ref = s"$root/ref"
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < cut), ref, 16, 4, 16, 1)
    IndexStore.appendIvfPq(emb.filter(col("vec_id") >= cut), ref, 1)
    val probes = emb.filter(col("vec_id") < 5)
    val got = IndexStore.searchIvfPq(spark, s"$root/ix", probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    val want = IndexStore.searchIvfPq(spark, ref, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    assert(got.nonEmpty && got == want)
    // an AvailableNow pass with no new files replays nothing: same
    // batches, same rows (checkpoint-exactly-once, not re-append)
    IndexStream.start(spark, s"$root/in/*", s"$root/ix", s"$root/ck").awaitTermination()
    assert(spark.read.parquet(s"$root/ix/codes").count() == n)
    assert(spark.read.parquet(s"$root/ix/codes")
      .select("batch_id").distinct().count() == 2)
  }

  test("in-stream compaction (compactEvery) bounds batch count without changing results") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    val root = java.nio.file.Files.createTempDirectory("ixstream-c").toString
    val third = n / 3
    val drops = Seq(
      col("vec_id") < third,
      col("vec_id") >= third && col("vec_id") < 2 * third,
      col("vec_id") >= 2 * third)
    // plain stream (no compaction) as the parity reference
    drops.zipWithIndex.foreach { case (cond, i) =>
      emb.filter(cond).coalesce(1).write.parquet(s"$root/in/drop$i.parquet")
      IndexStream.start(spark, s"$root/in/*", s"$root/ref", s"$root/ckRef")
        .awaitTermination()
      IndexStream.start(spark, s"$root/in/*", s"$root/ix", s"$root/ck",
        compactEvery = 2).awaitTermination()
    }
    // batch 2 compacted {0,1} -> fold -1 before appending itself: two
    // LIVE batches in the manifest (superseded dirs linger as orphans
    // until the next compaction's GC — the snapshot grace period)
    val man = IndexStore.readManifest(spark, s"$root/ix")
    assert(man.codes == Seq(-1L, 2L), man.codes)
    assert(spark.read
      .parquet(man.codes.map(b => s"$root/ix/codes/batch_id=$b"): _*)
      .count() == n)
    val probes = emb.filter(col("vec_id") < 5)
    val got = IndexStore.searchIvfPq(spark, s"$root/ix", probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    val want = IndexStore.searchIvfPq(spark, s"$root/ref", probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    assert(got.nonEmpty && got == want, "compaction changed streamed search results")
  }

  test("rebuildWhen: a drifted drop trips the stats tripwire, rebuilds in-stream, and encode quality is restored") {
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("ixstream-r").toString
    // finer quantization than the declared rows (the IndexDriftSpec
    // config) so quantization noise doesn't mask the drift signal
    val (nlist, m, k, iters) = (16, 16, 64, 2)
    def pass() = IndexStream.start(spark, s"$root/in/*", s"$root/ix",
      s"$root/ck", nlist, m, k, iters, compactEvery = 0, rebuildWhen = 10)
      .awaitTermination()
    // the IndexDriftSpec drift shape: +0.5 per dim, fresh ids
    def shifted(off: Long) = emb.select((col("vec_id") + off).as("vec_id"),
      expr("transform(embedding, x -> CAST(x + 0.5 AS FLOAT))").as("embedding"))
    emb.coalesce(1).write.parquet(s"$root/in/drop0.parquet"); pass()
    val man0 = IndexStore.readManifest(spark, s"$root/ix")
    assert(man0.subsumed == 0L && man0.codes == Seq(0L) && man0.built == 0L)
    // the drifted drop appends under frozen books (its stats row lands
    // ≥10× the training baseline), the tripwire fires, and the batch
    // triggers an in-stream rebuild subsuming itself
    shifted(100000L).coalesce(1).write.parquet(s"$root/in/drop1.parquet"); pass()
    val man1 = IndexStore.readManifest(spark, s"$root/ix")
    assert(man1.subsumed == 1L && man1.codes == Seq(-1L) && man1.built == -1L,
      s"drift did not trigger an in-stream rebuild: $man1")
    def stat(b: Long): Double = spark.read
      .schema("n BIGINT, mean_err DOUBLE, max_err DOUBLE, batch_id BIGINT")
      .json(s"$root/ix/stats").where(col("batch_id") === b)
      .select("mean_err").head.getDouble(0)
    // monitoring history retained: batch 1's drifted-under-frozen row
    // still shows the ≥10× jump against the ORIGINAL training row,
    // while the new baseline (the rebuild's own row) encodes its
    // grown corpus back in band
    assert(stat(1L) >= 10 * stat(0L), s"history lost: ${stat(1L)} vs ${stat(0L)}")
    assert(stat(-1L) <= stat(1L) / 5, s"rebuild did not restore encode quality: ${stat(-1L)}")
    // the next drifted drop appends CLEAN under the rebuilt books —
    // the tripwire stays quiet and the batch lands as a normal append
    shifted(200000L).coalesce(1).write.parquet(s"$root/in/drop2.parquet"); pass()
    val man2 = IndexStore.readManifest(spark, s"$root/ix")
    assert(man2.subsumed == 1L && man2.codes == Seq(-1L, 2L),
      s"post-rebuild append misbehaved: $man2")
    assert(stat(2L) <= stat(1L) / 5,
      s"rebuilt books should encode the drifted distribution cleanly: ${stat(2L)} vs ${stat(1L)}")
    // every indexed vector is served exactly once (the subsume
    // watermark: batch 1's vectors live ONLY in the rebuilt batch)
    val n = emb.count()
    val served = IndexStore.liveVecIds(spark, s"$root/ix").collect().map(_.getLong(0))
    assert(served.length == 3 * n && served.distinct.length == served.length,
      s"duplicate or missing vectors after rebuild: ${served.length} ids, ${served.distinct.length} distinct")
    // a replayed append of the subsumed batch is a no-op (the
    // crash-between-rebuild-and-checkpoint-commit shape)
    IndexStream.maintain(spark, s"$root/in/*", s"$root/ix", shifted(100000L),
      1L, nlist, m, k, iters, 0, 10)
    assert(IndexStore.readManifest(spark, s"$root/ix") == man2,
      "replay of a subsumed batch must change nothing")
  }
}
