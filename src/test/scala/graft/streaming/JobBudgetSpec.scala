package graft.streaming

import org.apache.spark.JobLog
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{Curation, TokenizerStore}

/** Exact Spark-job budgets of the curate-then-pack trigger's fixed
  * costs. A micro-batch's latency is mostly the fixed cost of the jobs
  * it launches, so a regression that adds one (a schema inference, a
  * second merge-table load, a read-back) fails here by count instead of
  * surfacing as wall-clock drift on the streaming rows. Counts are for
  * the suite's `local[4]` session. */
class JobBudgetSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf("sf0.001"), "documents")

  private def jobs(body: => Unit): Seq[String] = JobLog.of(spark.sparkContext)(body)

  private def trainTok(): String = {
    val d = java.nio.file.Files.createTempDirectory("jobbudget-tok").toString
    TokenizerStore.trainBpe(docs, d, 8, 256)
    d
  }

  test("loadMerges is one job: explicit schema, driver-side rank sort") {
    val tok = trainTok()
    val log = jobs(TokenizerStore.loadMerges(spark, tok))
    assert(log.size == 1, log.mkString("\n"))
  }

  test("perDocIds loads the merge table once for the encode, the vocabulary and the EOS id") {
    val tok = trainTok()
    val d = docs
    val log = jobs(Curation.perDocIds(d, tok))
    // a shuffle stage's job carries a generic call site; the merge
    // table's shuffle-free collect names TokenizerStore
    val merges = log.filter(_.contains("TokenizerStore.scala"))
    assert(merges.size == 1, log.mkString("\n"))
    // the one merge-table job plus the encode's three: the parallelism
    // floor's shuffle, the per-doc aggregation's shuffle, the
    // localCheckpoint
    assert(log.size == 4, log.mkString("\n"))
  }

  test("compactBatchStore on two partitions: the fold's shuffle and its write, no read-back") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jobbudget-keys").toString
    Seq("k1", "k2").toDF("_key").write.parquet(s"$dir/batch_id=0")
    Seq("k3").toDF("_key").write.parquet(s"$dir/batch_id=1")
    var n = 0L
    val log = jobs { n = Maintenance.compactBatchStore(spark, dir, upTo = 1, CurateStream.keysData) }
    assert(n == 3L)
    assert(log.size == 2, log.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("startCurateAndPack: exact jobs for a trigger without and with the store fold") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-stream").toString
    val tok = trainTok()
    val drop = CurateStream.terciles(docs).batchId(col("doc_id"))
    // one drop per pass; compactEvery = 2 folds the key and pack stores
    // before batch 2, so batch 1 is a plain trigger and batch 2 a fold
    def trigger(i: Int): Seq[String] = {
      docs.filter(drop === i).coalesce(2).write.parquet(s"$root/in/drop$i.parquet")
      jobs {
        CurateStream.startCurateAndPack(spark, s"$root/in/*", s"$root/out",
          s"$root/ck", tok, compactEvery = 2).awaitTermination()
      }
    }
    trigger(0)
    val plain = trigger(1)
    val folding = trigger(2)
    assert(plain.size == 22, plain.mkString("\n"))
    assert(folding.size == 30, folding.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
