// NOTE: package graft.streaming (not .tools) for private[streaming]
// processBatch access — the SemSweep precedent (and the winnowing sweep's,
// whose numbers are in BENCHNOTES "Substring-level dedup"): measurement
// drivers live in tools/ but keep the package of what they measure.
package graft.streaming

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}
import graft.operators.TokenizerStore

/** Measures what the pack store's pre-merging compaction actually buys
  * at serve time: land the sf0.01 corpus as N committed batches (direct
  * `processBatch` calls — the stream minus checkpoint scaffolding),
  * time `packed()` + `packedBounds()` warm, fold everything but the
  * head batch, time again. The claim under test (BENCHNOTES): a
  * long-lived store re-merges every straddled sequence and lists one
  * directory per drop at every read; the fold pre-merges and collapses
  * directories, so serving cost stops growing with drop count.
  */
object PackServeSweep {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => TokenizerStore.trainBpe(docs, d, 8, 256))
    val nBatches = args.headOption.map(_.toInt).getOrElse(12)
    val ids = docs.select($"doc_id").orderBy($"doc_id").as[Long].collect()
    require(nBatches >= 1 && nBatches <= ids.length,
      s"nBatches $nBatches out of range (corpus has ${ids.length} docs)")
    val per = math.max(1, ids.length / nBatches)
    val root = java.nio.file.Files.createTempDirectory("pack-sweep").toString
    val out = s"$root/out"
    (0 until nBatches).foreach { i =>
      val from = i * per
      val until = if (i == nBatches - 1) ids.length else (i + 1) * per
      PackStream.processBatch(
        docs.filter($"doc_id".between(ids(from), ids(until - 1))),
        i.toLong, tokDir, out, 512, 32)
    }
    def time(what: String): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        PackStream.packed(spark, out).orderBy($"seq_id").collect()
        PackStream.packedBounds(spark, out).orderBy($"seq_id").collect()
        (System.nanoTime() - t0) / 1e9
      }
      one() // warm-up
      val ts = Seq.fill(3)(one())
      println(f"SWEEP $what%-14s min ${ts.min}%.3f s  (runs ${ts.map(t => f"$t%.3f").mkString(", ")})")
      ts.min
    }
    val rows = PackStream.packed(spark, out).count()
    println(s"SWEEP store: $nBatches batches, $rows sequences")
    val before = time("uncompacted")
    val frags0 = spark.read.parquet(s"$out/frag").count()
    PackStream.compact(spark, out, (nBatches - 2).toLong)
    val frags1 = spark.read.parquet(s"$out/frag").count()
    println(s"SWEEP fragments $frags0 -> $frags1")
    val after = time("compacted")
    println(f"SWEEP ratio ${before / after}%.2f x")
    spark.stop()
  }
}
