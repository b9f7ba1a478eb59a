package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Dev tool (VERDICT r3 item 8): materialize an m× amplification of a
  * FULL fixture directory — every table — so the whole Bench suite
  * can run at sf1 (10× the driver's bench point) and super-linear
  * shuffle cliffs show up before a real cluster finds them.
  *
  * `runMain graft.operators.BenchFixture [baseDir [outDir [m]]]`
  * (defaults: /root/testdata/sf0.1 → /root/repo/out/sf1, m=10).
  *
  * Scaling model (TPC-H-like): nation/region stay fixed; every other
  * table is replicated m× with its keys shifted by slice × cardinality
  * — keys are 0-based dense in the fixture, so shifts are
  * collision-free and every foreign-key relationship (orders→customer,
  * lineitem→orders/part/supplier, events→user) keeps its exact join
  * fan-out: group counts grow 10×, per-group sizes stay constant,
  * which is how a bigger TPC-H SF behaves. documents/embeddings use
  * [[genFixture]]'s profile-matched text generator instead
  * of row copies, preserving the planted exact-dup/near-dup rates the
  * dedup queries are sensitive to. Generation is map-only
  * (`spark.range`/unions, no shuffle) — the same shape a 100 TB
  * fixture build would use.
  *
  * events.ts is read with the nanos-as-long legacy flag (the fixture
  * column is TIMESTAMP(NANOS)) and written back as a plain INT64 of
  * the same nanos values, which [[graft.core.Tables.loadEvents]]
  * converts identically on read.
  */
object BenchFixture {

  private val Vmul = 0x9e3779b97f4a7c15L

  private def rng(k: Long, i: Long, salt: Long): java.util.Random =
    new java.util.Random(scala.util.hashing.byteswap64(k * Vmul + i * 0x85ebca77L + salt))

  /** 0 = fresh, 1 = near-dup (append one token), 2 = exact dup. */
  private def role(k: Long, i: Long): Int = {
    if (i == 0) return 0
    val p = rng(k, i, 1).nextDouble()
    if (p < 0.002) 2 else if (p < 0.012) 1 else 0
  }

  private def freshTokens(vocab: Array[String], lens: Array[Int],
      k: Long, i: Long): Array[String] = {
    val r = rng(k, i, 2)
    val len = lens(r.nextInt(lens.length))
    Array.fill(len)(vocab(r.nextInt(vocab.length)))
  }

  /** Pure text function: dup roles copy the FRESH text of an earlier
    * partner that is itself fresh (bounded resample keeps it recursion-
    * free and guarantees the planted pair exists verbatim). */
  private def textFor(vocab: Array[String], lens: Array[Int],
      k: Long, i: Long): String = {
    val ro = role(k, i)
    if (ro == 0) return freshTokens(vocab, lens, k, i).mkString(" ")
    val r = rng(k, i, 3)
    var j = -1L
    var tries = 0
    while (tries < 10 && j < 0) {
      val c = i - 1 - r.nextInt(math.min(i, 50L).toInt)
      if (role(k, c) == 0) j = c
      tries += 1
    }
    if (j < 0) return freshTokens(vocab, lens, k, i).mkString(" ")
    val part = freshTokens(vocab, lens, k, j)
    if (ro == 2) part.mkString(" ")
    else (part :+ vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  /** documents + embeddings at m×: a deterministic distributed generator
    * matched to the base corpus (same vocabulary, doc-length/lang/source
    * profile, and planted exact-dup ≈0.2% / near-dup ≈1% rates — a
    * near-dup appends one token to its partner's text, word-5-gram
    * J ≥ (L-4)/(L-3) ≥ 0.857 at the base minimum length 10). Slice 0 is
    * the base fixture verbatim; slices k ≥ 1 regenerate fresh text from
    * pure functions of (slice, index). */
  private def genFixture(spark: SparkSession, base: String, out: String, m: Int): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resume only when BOTH outputs exist — a run killed between the two
    // writes must not leave a half-built dir that is then skipped forever
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$out/documents.parquet")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$out/embeddings.parquet"))) return

    val docs0 = Tables.load(spark, base, "documents")
    val emb0 = Tables.load(spark, base, "embeddings")
    val nDocs = docs0.count()
    val nVecs = emb0.count()
    val dim = emb0.select(size(col("embedding"))).as[Int].head()
    val profile = docs0.select(col("text"), col("lang"), col("source"))
      .as[(String, String, String)].collect()
      .map { case (t, l, s) => (t.split("\\s+").length, l, s) }
    val vocab = docs0.select(explode(split(col("text"), "\\s+")).as("t"))
      .distinct().as[String].collect().sorted
    val lens = profile.map(_._1)

    val synthDocs = spark.range(nDocs * (m - 1)).map { g =>
      val k = 1 + g / nDocs
      val i = g % nDocs
      val r = rng(k, i, 4)
      val (_, lang, source) = profile(r.nextInt(profile.length))
      (k * nDocs + i, textFor(vocab, lens, k, i), lang, source)
    }.toDF("doc_id", "text", "lang", "source")
    docs0.select("doc_id", "text", "lang", "source").unionByName(synthDocs)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // labels replicate the base table's per-index labels so the
    // per-label operators (x2_outlier_score) see the same cardinality
    // and distribution at every amplification (collect is bounded at
    // the sf0.1 vector count — a dev-tool-sized array)
    val baseLabels = emb0.select(col("label").cast("int")).as[Int].collect()
    val synthVecs = spark.range(nVecs * (m - 1)).map { g =>
      val k = 1 + g / nVecs
      val i = g % nVecs
      val r = rng(k, i, 5)
      (k * nVecs + i, Array.fill(dim)((r.nextGaussian() * 0.15).toFloat),
        baseLabels(i.toInt))
    }.toDF("vec_id", "embedding", "label")
    emb0.select("vec_id", "embedding", "label").unionByName(synthVecs)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Replicate `df` m× shifting each (column → cardinality) by
    * slice × cardinality; slice 0 is the base verbatim. */
  private def replicate(df: DataFrame, m: Int, shifts: (String, Long)*): DataFrame =
    (1 until m).foldLeft(df) { (acc, k) =>
      acc.unionByName(shifts.foldLeft(df) { case (d, (c, span)) =>
        d.withColumn(c, col(c) + lit(k * span))
      })
    }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/root/repo/out/sf1"
    val m = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // gate on the commit marker, not the directory: a run killed
    // mid-write leaves a partial dir that a bare exists() would
    // silently accept and every later bench would measure garbage
    def done(t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet/_SUCCESS"))

    // documents + embeddings: profile-matched synthetic text/vectors
    genFixture(spark, base, out, m)

    // fixed-size dims copy through unchanged
    for (t <- Seq("nation", "region") if !done(t))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    val C = 15000L; val S = 1000L; val P = 20000L; val O = 150000L
    val E = 100000L; val U = 1500L
    def gen(t: String, shifts: (String, Long)*): Unit = if (!done(t)) {
      // events.ts is TIMESTAMP(NANOS): read as long, write as long —
      // Tables.loadEvents converts both layouts the same way
      if (t == "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$base/$t.parquet")
      // spans are sf0.1 cardinalities; amplifying a base whose keys
      // exceed them would collide slices — fail instead of corrupting
      val mxCols = shifts.map { case (c, _) => max(col(c)).as(c) }
      val mx = df.agg(mxCols.head, mxCols.tail: _*).head
      shifts.zipWithIndex.foreach { case ((c, span), i) =>
        val v = mx.getAs[Number](i).longValue
        require(v < span,
          s"$t.$c max $v >= shift span $span — base $base is " +
            "not the sf0.1-shaped fixture this tool's spans assume")
      }
      replicate(df, m, shifts: _*)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    gen("customer", "c_custkey" -> C)
    gen("supplier", "s_suppkey" -> S)
    gen("part", "p_partkey" -> P)
    gen("orders", "o_orderkey" -> O, "o_custkey" -> C)
    gen("lineitem", "l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)
    gen("events", "event_id" -> E, "user_id" -> U)
    println(s"""{"fixture":"$out","m":$m,"base":"$base"}""")
    spark.stop()
  }
}
