package graft.tools

import org.apache.spark.scheduler._

/** Dev probe (r19): where does the ~4 s/batch FIXED cost of the gated
  * curate→pack micro-batch go? Counts Spark jobs and their wall time
  * per micro-batch of one xs_curate_pack_gated-shaped run at sf0.1,
  * labeling each job by its description/callsite. */
object BatchCostProbe {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/root/testdata/sf0.1"
    val docs = graft.core.Tables.load(spark, base, "documents")
    val packTok = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"$base/documents.parquet", "bpe-r8v256",
      d => graft.operators.TokenizerStore.trainBpe(docs, d, 8, 256))
    val lmTok = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"$base/documents.parquet", "biglm-a1-cd",
      d => graft.operators.TokenizerStore.trainBigramLm(docs, d))
    case class J(id: Int, desc: String, t0: Long, var t1: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs.put(e.jobId, J(e.jobId, d.take(110), e.time)); order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      }
    })
    var i = 0
    graft.streaming.Drops.three(docs, "bcp") { root =>
      println(s"=== PASS $i")
      val mark = order.size()
      val t0 = System.nanoTime()
      graft.streaming.CurateStream.startCurateAndPack(spark,
        s"$root/in/*", s"$root/out", s"$root/ck", packTok,
        nearDupJaccard = Some(0.8), lmGate = Some((lmTok, 3.41)),
        staleWhen = 100.0, staleTpwAbs = 100.0, requireOrdered = true)
        .awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener flush
      import scala.jdk.CollectionConverters._
      val js = order.asScala.drop(mark).flatMap(id => Option(jobs.get(id)))
      val tot = js.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"pass $i wall $wall%.2f s, ${js.size} jobs, job-time sum $tot%.2f s")
      val durs = js.map(j => (j.t1 - j.t0) / 1e3).sorted.reverse
      println("  top job durations: " + durs.take(15).map(d => f"$d%.2f").mkString(", "))
      println(f"  jobs >0.3s: ${durs.count(_ > 0.3)}, 0.1-0.3s: ${durs.count(d => d > 0.1 && d <= 0.3)}, <=0.1s: ${durs.count(_ <= 0.1)}")
      i += 1
    }
    spark.stop()
  }
}
