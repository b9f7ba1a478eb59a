package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.streaming.{CurateStream, Drops}

/** Dev tool (r21, VERDICT r20 #5): per-JOB cost breakdown of the gated
  * curate streams — one row per Spark job with wall duration and the
  * job group's running description, so the per-micro-batch overhead of
  * each gate stage (keep-first, key store, LM/DSIR scoring, near-dup,
  * writes) is attributable instead of guessed.
  *
  *   runMain graft.tools.GateJobProbe [dsir|lm|neardup|pack|plain]
  */
object GateJobProbe {
  def main(a: Array[String]): Unit = {
    val mode = a.headOption.getOrElse("dsir")
    val spark = graft.core.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("PROBE_DIR", "/root/testdata/sf0.1")
    val docs = graft.core.Tables.load(spark, dir, "documents")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val call = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        starts.put(js.jobId,
          (System.nanoTime(), s"$desc | $call".replaceAll("\\s+", " "))); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, d) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, d)); ()
        }
      }
    }

    // warehouse artifacts built OUTSIDE the probe window
    val dsirDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "dsir-en-a05",
      d => graft.operators.Curation.trainDsir(docs, col("lang") === "en", d))
    val lmDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "biglm-a1-cd",
      d => graft.operators.TokenizerStore.trainBigramLm(docs, d))
    val packTok = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => graft.operators.TokenizerStore.trainBpe(docs, d, 8, 256))

    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val root = Drops.three(docs, s"gatejob-$mode") { root =>
      val (in, out, ck) = (s"$root/in/*", s"$root/out", s"$root/ck")
      (mode match {
        case "dsir" => CurateStream.start(spark, in, out, ck,
          dsirGate = Some((dsirDir, 0.0)))
        case "lm" => CurateStream.start(spark, in, out, ck,
          lmGate = Some((lmDir, 3.41)))
        case "neardup" => CurateStream.start(spark, in, out, ck,
          nearDupJaccard = Some(0.8))
        case "plain" => CurateStream.start(spark, in, out, ck)
        case "pack" => CurateStream.startCurateAndPack(spark, in, out, ck, packTok)
      }).awaitTermination()
    }
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(800)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(_._1)
    println(f"PROBE mode=$mode total=$total%.2f s jobs=${all.size} jobtime=${all.map(_._2).sum}%.2f")
    all.foreach { case (id, sec, d) =>
      println(f"JOB $id%4d $sec%7.3f  ${d.take(140)}")
    }
    println(s"IGNORE root=$root")
    spark.stop()
  }
}
