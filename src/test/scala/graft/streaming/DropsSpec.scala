package graft.streaming

import java.io.File

import org.apache.spark.JobLog
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class DropsSpec extends SparkSpec {

  private def frame(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
  }

  /** Runs [[Drops.three]] over `df`, recording at each pass the drop
    * directories the in-dir then holds. */
  private def landed(df: DataFrame): (String, Seq[Seq[String]]) = {
    var seen = Seq.empty[Seq[String]]
    val root = Drops.three(df, "drops-spec") { root =>
      seen :+= new File(s"$root/in").list().toSeq.sorted
    }
    (root, seen)
  }

  private def rows(root: String, i: Int, df: DataFrame): Seq[(Long, String)] =
    spark.read.schema(df.schema).parquet(s"$root/in/drop$i.parquet")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  test("three passes, one drop more each; the drops' union is the input; ids ordered across drops") {
    // ids 0..59 with two exact duplicate rows: the union must keep both
    val df = frame((0L until 60L) ++ Seq(7L, 41L))
    val (root, seen) = landed(df)
    assert(seen == Seq(
      Seq("drop0.parquet"),
      Seq("drop0.parquet", "drop1.parquet"),
      Seq("drop0.parquet", "drop1.parquet", "drop2.parquet")))
    val drops = (0 until 3).map(rows(root, _, df))
    assert(drops.flatten.sorted == df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
    drops.sliding(2).foreach { case Seq(a, b) =>
      assert(a.nonEmpty && b.nonEmpty && a.map(_._1).max < b.map(_._1).min)
    }
    assert(!new File(s"$root/stage").exists())
  }

  test("an empty middle third lands an empty drop1 directory, and its pass still runs") {
    // bounds 0..99 cut at 33 and 66: nothing falls in the middle third
    val df = frame((0L to 20L) ++ (70L to 99L))
    val (root, seen) = landed(df)
    assert(seen.size == 3)
    assert(seen(1) == Seq("drop0.parquet", "drop1.parquet"))
    val drop1 = new File(s"$root/in/drop1.parquet")
    assert(drop1.isDirectory && drop1.list().isEmpty)
    val drops = (0 until 3).map(rows(root, _, df))
    assert(drops(1).isEmpty)
    assert(drops(0).map(_._1).max < drops(2).map(_._1).min)
    assert(drops.flatten.sorted == df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
    assert(!new File(s"$root/stage").exists())
  }

  test("passed cuts replace the min/max job") {
    val df = frame(0L until 30L)
    val derived = JobLog.of(spark.sparkContext)(Drops.three(df, "drops-spec")(_ => ()))
    val given = JobLog.of(spark.sparkContext)(
      Drops.three(df, "drops-spec", cuts = Some(Drops.Terciles(0L, 29L)))(_ => ()))
    // with cuts only the staging write runs; deriving them adds the
    // min/max aggregate's jobs (shuffle jobs, so their call sites are
    // generic)
    def write(log: Seq[String]) = log.filter(_.startsWith("parquet at Drops.scala"))
    assert(given.nonEmpty && write(given) == given, given.mkString("\n"))
    assert(write(derived) == given && derived.size > given.size, s"$derived vs $given")
  }
}
