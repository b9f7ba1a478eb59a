package graft.streaming

import org.apache.spark.JobLog
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{Curation, TokenizerStore}

/** Exact Spark-job budgets of the stream triggers' fixed costs (the
  * curate-then-pack trigger, and one trigger each of the curate, pack,
  * index, curate-then-index and signal streams). A micro-batch's latency
  * is mostly the fixed cost of the jobs it launches, so a regression
  * that adds one (a schema inference, a second merge-table load, a
  * read-back, a parallelism-floor shuffle) fails here by count instead
  * of surfacing as wall-clock drift on the streaming rows. Counts are
  * for the suite's `local[4]` session. */
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
    // perDocIds is lazy: count it with the offsets that materialize it,
    // built the way PackStream.processBatch builds them
    val log = jobs(Curation.packOffsetsWithTotal(Curation.perDocIds(d, tok), "n", 32,
      Some("n_words")))
    // a shuffle stage's job carries a generic call site; the merge
    // table's shuffle-free collect names TokenizerStore
    val merges = log.filter(_.contains("TokenizerStore.scala"))
    assert(merges.size == 1, log.mkString("\n"))
    // the one merge-table job plus four: the per-doc aggregation's
    // shuffle, the input materialization (its observation carries the
    // cuts and totals), the window's shuffle and the offsets frame's
    // materialization (its observation carries the bucket sums) — no
    // parallelism floor, no sketch job, no totals collect
    assert(log.size == 5, log.mkString("\n"))
  }

  test("compactBatchStore on two partitions: one write, no shuffle, no read-back") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jobbudget-keys").toString
    Seq("k1", "k2").toDF("_key").write.parquet(s"$dir/batch_id=0")
    Seq("k3").toDF("_key").write.parquet(s"$dir/batch_id=1")
    var n = 0L
    val log = jobs { n = Maintenance.compactBatchStore(spark, dir, upTo = 1, CurateStream.keysData) }
    assert(n == 3L)
    assert(log.size == 1, log.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("startCurateAndPack: exact jobs for a trigger without and with the store fold") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-stream").toString
    val tok = trainTok()
    val drop = Drops.terciles(docs).batchId(col("doc_id"))
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
    assert(plain.size == 15, plain.mkString("\n"))
    assert(folding.size == 20, folding.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** Lands tercile `i` of `df` (by `idCol`) under `root`, then counts the
    * jobs of one AvailableNow pass of `pass`. */
  private def dropAndCount(root: String, df: org.apache.spark.sql.DataFrame,
      idCol: String, i: Int)(pass: => Unit): Seq[String] = {
    val drop = Drops.terciles(df, idCol).batchId(col(idCol))
    df.filter(drop === i).coalesce(2).write.parquet(s"$root/in/drop$i.parquet")
    jobs(pass)
  }

  test("CurateStream.start: exact jobs for a plain trigger") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-curate").toString
    def pass(i: Int) = dropAndCount(root, docs, "doc_id", i) {
      CurateStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck")
        .awaitTermination()
    }
    pass(0)
    val plain = pass(1)
    assert(plain.size == 6, plain.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("PackStream.start: exact jobs for a plain trigger") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-pack").toString
    val tok = trainTok()
    def pass(i: Int) = dropAndCount(root, docs, "doc_id", i) {
      PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok)
        .awaitTermination()
    }
    pass(0)
    val plain = pass(1)
    assert(plain.size == 9, plain.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("IndexStream.start: exact jobs for an append trigger") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-index").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    def pass(i: Int) = dropAndCount(root, emb, "vec_id", i) {
      IndexStream.start(spark, s"$root/in/*", s"$root/ix", s"$root/ck")
        .awaitTermination()
    }
    pass(0)
    val append = pass(1)
    assert(append.size == 4, append.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
  test("startCurateAndIndex: exact jobs for an append trigger") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-curidx").toString
    def pass(i: Int) = dropAndCount(root, docs, "doc_id", i) {
      CurateStream.startCurateAndIndex(spark, s"$root/in/*", s"$root/out",
        s"$root/ck", s"$root/ix").awaitTermination()
    }
    pass(0)
    val append = pass(1)
    assert(append.size == 10, append.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("startSignals: one job per trigger, the write") {
    val root = java.nio.file.Files.createTempDirectory("jobbudget-signals").toString
    def pass(i: Int) = dropAndCount(root, docs, "doc_id", i) {
      CurateStream.startSignals(spark, s"$root/in/*", s"$root/out", s"$root/ck")
        .awaitTermination()
    }
    pass(0)
    val plain = pass(1)
    assert(plain.size == 1, plain.mkString("\n"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
