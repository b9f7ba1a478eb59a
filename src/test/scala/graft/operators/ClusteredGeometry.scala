package graft.operators

import org.apache.spark.sql.functions._

/** The measurement harness of [[ClusteredGeometrySpec]]: a seeded
  * clustered corpus (the FAISS regime residual encoding exists for),
  * exact k-th-NN distances, distance-tolerance recall, the r12
  * raw-vector IVF-PQ composition the shipped residual path is A/B'd
  * against, and both paths' reconstruction MSE. The sigma sweep these
  * produced is in BENCHNOTES.md (Round 14, "Residual-vs-raw recall on
  * clustered geometry"). */
object ClusteredGeometry {

  /** Deterministic clustered corpus: `nClusters` centers at uniform
    * ±`spread` per dim, `n` points round-robin across clusters with
    * N(0, sigma²) per-dim displacement. Seeded — byte-stable across
    * runs and JVMs. */
  private[operators] def clusteredCorpus(spark: org.apache.spark.sql.SparkSession,
      n: Int, dim: Int, nClusters: Int, spread: Double, sigma: Double,
      seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters, dim)((rnd.nextDouble() * 2 - 1) * spread)
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, Array.tabulate(dim)(d => (c(d) + rnd.nextGaussian() * sigma).toFloat))
    }
    rows.toDF("vec_id", "embedding").repartition(8)
  }

  private[operators] def l2(p: Array[Float], c: Array[Float]): Double = {
    var pp = 0.0; var pc = 0.0; var cc = 0.0; var i = 0
    while (i < p.length) {
      pp += p(i).toDouble * p(i); pc += p(i).toDouble * c(i)
      cc += c(i).toDouble * c(i); i += 1
    }
    pp - 2.0 * pc + cc
  }

  /** True k-th-NN distance per probe (driver-side exact — spec corpora
    * are small by design). */
  private[operators] def kthDist(corpusArr: Array[(Long, Array[Float])],
      corpus: Map[Long, Array[Float]], nProbes: Int, topK: Int): Map[Long, Double] =
    (0L until nProbes.toLong).map { p =>
      p -> corpusArr.map { case (_, cv) => l2(corpus(p), cv) }.sorted.apply(topK - 1)
    }.toMap

  /** Distance-tolerance recall@k (a hit = retrieved vector within
    * (1+1e-9) of the true k-th-NN distance — the r12 adjudication:
    * set-overlap is ill-conditioned under float association noise). */
  private[operators] def recallTol(df: org.apache.spark.sql.DataFrame,
      corpus: Map[Long, Array[Float]], dk: Map[Long, Double],
      nProbes: Int, topK: Int): Double = {
    val got = df.select(org.apache.spark.sql.functions.col("probe_id"),
        org.apache.spark.sql.functions.col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.count { case (p, id) =>
      l2(corpus(p), corpus(id)) <= dk(p) * (1 + 1e-9) + 1e-12
    }.toDouble / (nProbes * topK)
  }

  /** The r12 RAW-vector IVF-PQ composition (pre-residual),
    * reconstructed for A/Bs: raw-subvector train+encode, per-probe
    * (not per-(probe,cluster)) LUTs. */
  private[operators] def rawIvfPq(emb: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame, nlist: Int, m: Int, k: Int,
      iters: Int, nprobe: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    val (sub, books) = Similarity.pqTrain(emb, m, k, iters).get
    val cents = Similarity.centroids(emb, nlist)
    val codes = Similarity.pqEncode(Similarity.ivfAssignWith(emb, cents),
        sub, books, keep = Seq("cluster"))
      .withColumn("codes", array((0 until m).map(s => col(s"code_$s")): _*))
    val pc = Similarity.ivfProbeClusters(probes, cents, nprobe)
      .select(col("probe_id"), col("cluster"))
    Similarity.adcRank(codes.join(broadcast(pc), Seq("cluster")),
      probes, books, sub, topK)
  }

  private[operators] def mseOf(df: org.apache.spark.sql.DataFrame): Double =
    df.agg(avg(col("err"))).head.getDouble(0)

  /** Raw-path reconstruction MSE at (m, k, iters). */
  private[operators] def mseRaw(emb: org.apache.spark.sql.DataFrame,
      m: Int, k: Int, iters: Int): Double = {
    val (sub, books) = Similarity.pqTrain(emb, m, k, iters).get
    mseOf(Similarity.pqEncode(emb, sub, books))
  }

  /** Residual-path reconstruction MSE (pqEncodeD's err IS the full
    * reconstruction error: x − (c + q(r)) = r − q(r)). */
  private[operators] def mseResid(emb: org.apache.spark.sql.DataFrame,
      nlist: Int, m: Int, k: Int, iters: Int): Double = {
    val cents = Similarity.coarseCentroids(emb, nlist)
    val resid = Similarity.ivfResiduals(emb, cents)
    val (sub, books) = Similarity.pqTrainD(
      resid.select(col("vec_id"), col("v")), m, k, iters).get
    mseOf(Similarity.pqEncodeD(resid, sub, books))
  }
}
