package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Similarity search over an embedding column (SURVEY.md §2B X2).
  *
  * Brute-force cosine top-k is the exactness baseline: the (small) probe
  * set is broadcast against the corpus so the corpus never shuffles and
  * each partition computes its probe×local-rows block — at 100 TB this is
  * a map-only pass plus a top-k (TakeOrderedAndProject-style) reduction.
  *
  * The scale path is random-hyperplane LSH: a 16-bit signature per vector,
  * banded 4×4 bits, probes join candidates on band equality (keyed
  * equi-join, no cross product) and only candidates get exact scoring.
  * Probes are multi-probed (weakest bit per band flipped — Lv et al.,
  * VLDB'07): ~2× the candidates for ~2× the recall, with the corpus-side
  * index unchanged.
  */

/** Cross-module-referenced tuning constants, isolated as COMPILE-TIME
  * constants (`final val` bound to a literal — the compiler inlines
  * them at every use site, so OBJECT-INIT ORDER cannot matter).
  *
  * Why structural and not positional: oracle-SQL vals in other modules
  * call back into [[Similarity]]'s SQL generators during THEIR
  * initialization, and the r16 init cycle (TextAnalysis-init →
  * ivfPqSearchSqlWith → Similarity-init → x2ClusterProfileSql →
  * TextAnalysis re-entrancy) baked `LIMIT 0` into the hashvec oracles
  * when these lived as plain vals whose safety depended on being
  * textually first in the object (review r16 / ADVICE r16). A constant
  * object with literal `final val`s removes the hazard for good: there
  * is no field read at runtime to observe un-initialized. Anything
  * added here MUST stay a literal — a computed RHS silently demotes
  * the member to an ordinary field and re-opens the cycle. */
private[operators] object SimilarityTuning {
  /** Training-sample cap for PQ/IVF codebooks. */
  final val PqTrainCap = 2048
  /** Lloyd rounds for the IVF-RESIDUAL paths' coarse quantizer. */
  final val CoarseIters = 1
}

object Similarity {

  import SimilarityTuning.{PqTrainCap, CoarseIters}

  /** Primitive-kernel scoring (r20 optimization round, guide §1.2 step 2
    * / §4): `zip_with`/`aggregate` lambdas are CodegenFallback —
    * evaluated interpreted per ELEMENT, measured ~100× slower per pair
    * than a compiled loop (BENCHNOTES r1 lesson #1, applied there to
    * x1_embedding_neardup; these close the same gap for every
    * cosineRankCore-family serve, whose scoring join runs the dot per
    * PAIR). Bit-exact with the HOFs they replace: [[Kernels.dotd]] /
    * [[Kernels.widen]] run the identical left-to-right IEEE
    * accumulation from 0.0 that `aggregate(zip_with(...))` and DuckDB's
    * `list_dot_product` run, so every declared row still hash-matches
    * its oracle (re-verified 227/227 after the swap). */
  // Null passthrough (ADVICE r20 / VERDICT r20 #9): the replaced HOF
  // expressions propagated null, so a null embedding was silently
  // filtered by downstream predicates — the kernels must keep that
  // skip-row failure mode instead of NPE-failing the whole task on
  // dirty data at scale. (A null ELEMENT inside a vector remains a
  // loud error in both forms — primitive arrays cannot carry one.)
  private val widenU = udf { (v: Array[Float]) =>
    if (v == null) null else Kernels.widen(v) }
  private val normU = udf { (v: Array[Double]) =>
    if (v == null) None else Some(math.sqrt(Kernels.dotd(v, v))) }
  private val dotU = udf { (a: Array[Double], b: Array[Double]) =>
    if (a == null || b == null) None else Some(Kernels.dotd(a, b)) }

  /** `colName` as array<double>: float inputs widened in-kernel (exact),
    * double inputs passed through unchanged (the chunkNeighbors corpus
    * is born double — a no-op cast there would still pay an
    * interpreted per-element transform). */
  private def widened(df: DataFrame, colName: String): Column =
    df.schema(colName).dataType match {
      case ArrayType(DoubleType, _) => col(colName)
      case _ => widenU(col(colName))
    }

  /** double-typed vector + its L2 norm. */
  private def prep(emb: DataFrame, idAs: String, vAs: String, nAs: String): DataFrame =
    emb.select(col("vec_id").as(idAs), widened(emb, "embedding").as(vAs))
      .withColumn(nAs, normU(col(vAs)))

  private[operators] def dot(a: Column, b: Column): Column = dotU(a, b)

  /** Exact cosine top-k of each probe against the corpus (self excluded).
    *
    * Scale note on the rank window: this LOOKS like the corpus-shuffling
    * window the r10 verdict flagged for pqSearch, but Spark 4's
    * `InferWindowGroupLimit` rewrites `row_number() <= k` into a
    * map-side `WindowGroupLimit` (verified in the executed plan), so
    * each task emits only its local top-k per probe before the
    * exchange — the shuffle carries ≤ partitions × probes × k rows,
    * the same bound [[graft.functions.TopKMinAgg]] provides by hand
    * where the rewrite can't apply (the ADC paths aggregate a computed
    * column under a different shape). */
  def cosineTopK(emb: DataFrame, probes: DataFrame, k: Int): DataFrame =
    cosineRankCore(emb, probes, k, col("neighbor_id") =!= col("probe_id"))

  /** The one ranking core behind [[cosineTopK]],
    * [[cosineTopKExcludingGroup]] and [[hardNegatives]] — broadcast
    * probes against the corpus under `keep`, score, optionally filter
    * the scored stream BEFORE ranking, group-limit to k. One body so
    * the three serves cannot drift apart (the [[hammingTopK]]
    * discipline applied to the float tier). */
  private def cosineRankCore(emb: DataFrame, probes: DataFrame, k: Int,
      keep: Column, simFilter: Option[Column] = None): DataFrame = {
    val corpus = prep(emb, "neighbor_id", "nv", "nn")
    val p = prep(probes, "probe_id", "pv", "pn")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val scored = corpus.join(broadcast(p), keep)
      .withColumn("sim", dot(col("pv"), col("nv")) / (col("pn") * col("nn")))
    simFilter.fold(scored)(scored.filter)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  /** Hard-negative mining for contrastive embedding training — the
    * denoised negative-selection rule dense-retrieval training uses
    * (RocketQA, Qu et al. NAACL 2021 §3.1; DPR-style in-batch negatives
    * are the easy baseline this replaces): for each probe, the top-k
    * most similar candidates whose similarity sits BELOW `posThreshold`
    * — candidates above it are likely unlabeled positives ("false
    * negatives") that must not be trained against — and at or above
    * `floor`, below which candidates are easy negatives that teach the
    * model nothing. Both bounds are map-only predicates INSIDE the
    * broadcast scoring join (same plan as [[cosineTopK]]: corpus never
    * shuffles, rank filter group-limits map-side), so mining costs
    * exactly one scoring pass. Hash-exact — the band edges are plain
    * comparisons on the same fixed-order cosine both engines compute. */
  def hardNegatives(emb: DataFrame, probes: DataFrame, k: Int,
      posThreshold: Double, floor: Double): DataFrame = {
    require(posThreshold > floor,
      s"hardNegatives: posThreshold ($posThreshold) must exceed floor ($floor)")
    cosineRankCore(emb, probes, k, col("neighbor_id") =!= col("probe_id"),
      Some(col("sim") < posThreshold && col("sim") >= floor))
  }

  /** Declared: band [0.05, 0.30) — fixture-scaled so BOTH bounds bind
    * for every probe at every SF (each probe has candidates above the
    * ceiling that a naive top-k would return as negatives, and
    * thousands below the floor); the spec asserts the ceiling actually
    * excluded each probe's raw top-1. */
  private def x2HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    hardNegatives(emb, emb.filter(col("vec_id") < 10), 5, 0.30, 0.05)
      .orderBy(col("probe_id"), col("rnk"))
  }

  private val x2HardNegativesSql = {
    val sim = """list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))""".stripMargin
    s"""SELECT probe_id, rnk, neighbor_id, sim FROM (
       |  SELECT probe_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |      $sim AS sim
       |    FROM embeddings p JOIN embeddings c
       |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) s
       |  WHERE sim < 0.30e0 AND sim >= 0.05e0) t
       |WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** [[hardNegatives]] with IVF list pruning composed IN FRONT of the
    * exact banded ranking — the remedy for the CORPUS factor of the
    * shape the r18 ScaleProbe measured on trainingPairs' negative stage
    * (anchors × corpus brute cosine went ~n²: 3.7 s → 166.7 s at 10×).
    * Each probe scores ~nprobe/nlist of the corpus instead of all of
    * it; scoring INSIDE the candidate stream is the same exact cosine
    * + band + group-limit as the brute core, so every served negative's
    * sim is true and in-band — the approximation only bounds which
    * candidates are SEEN, the standard IVF recall trade the ANN bound
    * rows measure.
    *
    * Honest scale bound (r18 review): like EVERY probe-side path in
    * this family ([[probeRoutes]], [[cosineTopK]]'s broadcast), the
    * probe set is driver-collected for routing and broadcast for
    * scoring — this fixes the corpus factor, NOT probe cardinality. A
    * corpus whose ANCHOR set itself outgrows a broadcast mines in
    * anchor batches: [[hardNegativesIvfBatched]] IS that driver loop
    * (per-probe results are independent, so slice-union ≡ one-shot —
    * SimilaritySpec pins the equality). */
  def hardNegativesIvf(emb: DataFrame, probes: DataFrame, k: Int,
      posThreshold: Double, floor: Double, nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    require(posThreshold > floor,
      s"hardNegativesIvf: posThreshold ($posThreshold) must exceed floor ($floor)")
    val cents = coarseCentroids(emb, nlist)
    if (cents.isEmpty) return emptyNegatives(emb)
    hardNegativesIvfCore(ivfAssignWith(emb, cents), probes, cents,
      k, posThreshold, floor, nprobe)
  }

  private def emptyNegatives(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("probe_id"),
      lit(1).cast(IntegerType).as("rnk"), col("vec_id").as("neighbor_id"),
      lit(0.0).as("sim")).limit(0)

  /** The per-slice scoring core: corpus already IVF-assigned, centroids
    * already trained — everything corpus-sized happens once in the
    * caller, so a batched driver loop pays only per-slice routing +
    * the pruned scoring join per iteration. */
  private def hardNegativesIvfCore(asg: DataFrame, probes: DataFrame,
      cents: Array[(Long, Array[Double], Double)], k: Int, posThreshold: Double,
      floor: Double, nprobe: Int): DataFrame = {
    val spark = asg.sparkSession
    val pc = routesDf(spark, probeRoutes(probes, cents, nprobe))
    val p = prep(probes, "probe_id", "pv", "pn")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    // widen + norm BEFORE the route join: once per assignment row, not
    // once per (probe, candidate) pair (r20 — the join multiplies rows
    // by the probes routed to each cluster)
    asg
      .select(col("cluster"), col("vec_id"), widened(asg, "embedding").as("nv"))
      .withColumn("nn", normU(col("nv")))
      .join(broadcast(pc), Seq("cluster"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("nv"), col("nn"))
      .join(broadcast(p), Seq("probe_id"))
      .withColumn("sim", dot(col("pv"), col("nv")) / (col("pn") * col("nn")))
      .filter(col("sim") < posThreshold && col("sim") >= floor)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  /** [[hardNegativesIvf]] for an anchor set too large to broadcast or
    * driver-collect in one piece (VERDICT r18 #2) — the productized
    * form of the anchor-batching remedy the r18 docs only stated. The
    * probe set is partitioned into ⌈n/sliceSize⌉ deterministic hash
    * slices (`pmod(vec_id, nSlices)` — uniform for any id distribution,
    * no driver collect of the ids themselves) and a DRIVER LOOP
    * EXECUTES the scoring core per slice, landing each slice's rows in
    * a reaper-registered temp store and returning the store's scan;
    * per-probe results are independent, so the union equals the
    * one-shot call row-for-row (SimilaritySpec pins the equality; the
    * declared `x2_hard_negatives_sliced` row hash-matches the one-shot
    * oracle through 3-way slicing).
    *
    * Cost shape, which is the point — and it holds because the loop is
    * EAGER (a lazy union would keep every slice's routing broadcast
    * live inside one job, re-creating the bound it exists to avoid —
    * r19 review): centroids train ONCE, the corpus IVF-assigns ONCE
    * and is persisted for the loop's duration, and each iteration pays
    * one slice-sized routing collect + broadcast, one candidate-bounded
    * scoring join, and one slice-sized write — at any moment the
    * driver/executors hold ONE slice's routing state, so anchor
    * cardinality is bounded by DISK. At 100 TB the assignment side
    * comes from a persisted index ([[IndexStore]]) instead of the
    * in-loop persist, and the temp store is the mining job's real
    * output sink. */
  def hardNegativesIvfBatched(emb: DataFrame, probes: DataFrame,
      sliceSize: Long, k: Int, posThreshold: Double, floor: Double,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    require(posThreshold > floor,
      s"hardNegativesIvfBatched: posThreshold ($posThreshold) must exceed floor ($floor)")
    require(sliceSize > 0, s"hardNegativesIvfBatched: sliceSize $sliceSize < 1")
    val nProbes = probes.count()
    if (nProbes == 0) return emptyNegatives(emb)
    val cents = coarseCentroids(emb, nlist)
    if (cents.isEmpty) return emptyNegatives(emb)
    val nSlices = ((nProbes + sliceSize - 1) / sliceSize).toInt
    val asg = ivfAssignWith(emb, cents)
    asg.persist()
    try {
      sliceLoop(emb.sparkSession, "graft-hn-sliced", nSlices) { (s, dir) =>
        hardNegativesIvfCore(asg,
          probes.filter(pmod(col("vec_id"), lit(nSlices.toLong)) === s),
          cents, k, posThreshold, floor, nprobe)
          .write.parquet(dir)
      }("probe_id BIGINT, rnk INT, neighbor_id BIGINT, sim DOUBLE")
    } finally asg.unpersist()
  }

  /** The eager slice loop shared by the batched miners: run `body` per
    * slice into `root/slice=<s>`, return the reaper-registered store's
    * explicit-schema scan (the [[IndexStore.load]] job-budget
    * discipline — no inference job). */
  private def sliceLoop(spark: org.apache.spark.sql.SparkSession,
      prefix: String, nSlices: Int)(body: (Int, String) => Unit)(
      schema: String): DataFrame = {
    val rootPath = java.nio.file.Files.createTempDirectory(prefix)
    graft.core.TempReaper.reapAtExit(rootPath)
    sliceLoopIn(spark, rootPath.toString, nSlices)(body)(schema)
  }

  /** [[sliceLoop]] into a CALLER-OWNED root (no reaper): for long-lived
    * callers — the streaming rung lands per-batch slice scratch under
    * its own store and deletes it once the merged state is persisted,
    * so a service-lifetime stream doesn't accumulate reap-at-exit temp
    * dirs. Any pre-existing content is cleared first (mid-batch crash
    * replay leaves a stale scratch behind). */
  private[graft] def sliceLoopIn(spark: org.apache.spark.sql.SparkSession,
      root: String, nSlices: Int)(body: (Int, String) => Unit)(
      schema: String): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rootPath)) fs.delete(rootPath, true)
    (0 until nSlices).foreach(s => body(s, s"$root/slice=$s"))
    spark.read.schema(schema).parquet((0 until nSlices).map(s => s"$root/slice=$s"): _*)
  }

  /** Declared: the brute band row's parameters over nprobe 4 / nlist 16
    * routing — value-exact oracle (the full coarse replay, not a bound
    * row), so a routing or assignment drift flips the hash. */
  private def x2HardNegativesIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    hardNegativesIvf(emb, emb.filter(col("vec_id") < 10), 5, 0.30, 0.05)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Declared: [[hardNegativesIvfBatched]] forced through 3-way probe
    * slicing (10 probes, sliceSize 4 → pmod slices of 4/3/3) against
    * the SAME oracle as the one-shot IVF row — the driver hash-match
    * IS the slice-composition proof, at the gate and not just in a
    * spec. */
  private def x2HardNegativesSliced(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    hardNegativesIvfBatched(emb, emb.filter(col("vec_id") < 10), 4, 5, 0.30, 0.05)
      .orderBy(col("probe_id"), col("rnk"))
  }

  private val x2HardNegativesIvfSql = {
    def cos(v: String, c: String) =
      s"""(list_dot_product($v, $c) /
         |      (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c))))""".stripMargin
    s"""WITH ${ivfCoarseCommonSql(16)},
       |p AS (SELECT vec_id AS probe_id, v FROM e WHERE vec_id < 10),
       |plists AS (
       |  SELECT probe_id, cluster FROM (
       |    SELECT p.probe_id, c.cid AS cluster, row_number() OVER (
       |      PARTITION BY p.probe_id
       |      ORDER BY ${cos("p.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM p CROSS JOIN ic c) t WHERE rn <= 4),
       |cand AS (
       |  SELECT pl.probe_id, a.vec_id AS neighbor_id
       |  FROM plists pl JOIN asg a USING (cluster)
       |  WHERE a.vec_id <> pl.probe_id),
       |r AS (
       |  SELECT cand.probe_id, cand.neighbor_id,
       |    ${cos("p.v", "e.v")} AS sim
       |  FROM cand JOIN p USING (probe_id) JOIN e ON e.vec_id = cand.neighbor_id)
       |SELECT probe_id, rnk, neighbor_id, sim FROM (
       |  SELECT probe_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
       |  FROM r WHERE sim < 0.30e0 AND sim >= 0.05e0) t
       |WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** Contrastive TRAINING-PAIR generation — the (anchor, positive,
    * hard negatives) table an embedding-model trainer actually
    * consumes, composed from two verified pieces: positives are the
    * semantic near-dup pairs ([[Dedup.embeddingNeardup]] at
    * `posThreshold`, both orientations — each member anchors once,
    * keeping its CLOSEST positive by sim then lowest id), negatives
    * are [[hardNegatives]]' banded top-k mined for exactly the anchor
    * set. The pair's own positive — and every other candidate in the
    * false-negative zone [negCeiling, posThreshold) — is excluded by
    * the band ceiling, which is the point: `posThreshold ≥ negCeiling`
    * is required, so nothing the pair miner would call a positive can
    * leak into the negative column.
    *
    * Scale: the anchor set is pair-bounded; this baseline broadcasts
    * it through the banded scoring pass (exact, one corpus scan). A
    * corpus where duplication makes anchors corpus-sized turns the
    * negative stage ~n² (measured: BENCHNOTES r18 ScaleProbe, 3.7 s →
    * 166.7 s at 10×) — [[trainingPairsIvf]] is the scale rung, routing
    * negatives through the IVF candidate sets; this row is the
    * exactness baseline it serves against. */
  def trainingPairs(emb: DataFrame, k: Int, posThreshold: Double,
      negCeiling: Double, negFloor: Double): DataFrame = {
    require(posThreshold >= negCeiling,
      s"trainingPairs: posThreshold ($posThreshold) below the negative-band " +
        s"ceiling ($negCeiling) would let labeled positives mine as negatives")
    trainingPairsWith(emb, posThreshold,
      (e, probes) => hardNegatives(e, probes, k, negCeiling, negFloor))
  }

  /** [[trainingPairs]] with the negative stage routed through
    * [[hardNegativesIvf]] — the composition to reach for once anchors ×
    * corpus brute scoring crosses scan cost (the measured ~n² shape in
    * BENCHNOTES r18). Same pair miner, same best-positive rule; only
    * the negative CANDIDATE set narrows to each anchor's nprobe lists.
    * The anchor set is still routed/broadcast probe-side (see
    * [[hardNegativesIvf]]'s scale bound — batch the anchors when they
    * outgrow a broadcast). Spec-pinned against the brute composition on
    * the fixture; the declared x2_hard_negatives_ivf row value-oracles
    * the ranker. */
  def trainingPairsIvf(emb: DataFrame, k: Int, posThreshold: Double,
      negCeiling: Double, negFloor: Double, nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    require(posThreshold >= negCeiling,
      s"trainingPairsIvf: posThreshold ($posThreshold) below the negative-band " +
        s"ceiling ($negCeiling) would let labeled positives mine as negatives")
    trainingPairsWith(emb, posThreshold,
      (e, probes) => hardNegativesIvf(e, probes, k, negCeiling, negFloor, nlist, nprobe))
  }

  private def trainingPairsWith(emb: DataFrame, posThreshold: Double,
      negRanker: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val pairs = Dedup.embeddingNeardup(emb, posThreshold)
    val anchors = pairs.select(col("vec_a").as("anchor"),
        col("vec_b").as("positive"), col("cosine").as("pos_sim"))
      .unionByName(pairs.select(col("vec_b").as("anchor"),
        col("vec_a").as("positive"), col("cosine").as("pos_sim")))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("pos_sim").desc, col("positive"))
    val best = anchors.withColumn("_r", row_number().over(w))
      .filter(col("_r") === 1).drop("_r")
    val probes = emb.join(best.select(col("anchor").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val negs = negRanker(emb, probes)
      .select(col("probe_id").as("anchor"), col("rnk").as("neg_rank"),
        col("neighbor_id").as("negative"), col("sim").as("neg_sim"))
    best.join(negs, Seq("anchor"))
      .select(col("anchor"), col("positive"), col("pos_sim"),
        col("neg_rank"), col("negative"), col("neg_sim"))
  }

  private def x2TrainingPairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    trainingPairs(emb, 3, 0.45, 0.30, 0.05)
      .orderBy(col("anchor"), col("neg_rank"))
  }

  /** Oracle: exact pair join at 0.45 (the x1_embedding_neardup truth)
    * → best-positive window → banded negative ranking restricted to
    * the anchor set, joined back. */
  private val x2TrainingPairsSql = {
    def sim(a: String, b: String) =
      s"""list_dot_product(CAST($a.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[])) /
         |      (sqrt(list_dot_product(CAST($a.embedding AS DOUBLE[]), CAST($a.embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(CAST($b.embedding AS DOUBLE[]), CAST($b.embedding AS DOUBLE[]))))""".stripMargin
    s"""WITH pr AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ${sim("a", "b")} AS cosine
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${sim("a", "b")} >= 0.45e0),
       |an AS (
       |  SELECT va AS anchor, vb AS positive, cosine AS pos_sim FROM pr
       |  UNION ALL
       |  SELECT vb AS anchor, va AS positive, cosine AS pos_sim FROM pr),
       |best AS (
       |  SELECT anchor, positive, pos_sim FROM (
       |    SELECT anchor, positive, pos_sim,
       |      ROW_NUMBER() OVER (PARTITION BY anchor
       |        ORDER BY pos_sim DESC, positive) AS r
       |    FROM an) t WHERE r = 1),
       |neg AS (
       |  SELECT anchor, neg_rank, negative, neg_sim FROM (
       |    SELECT p.vec_id AS anchor, c.vec_id AS negative,
       |      ${sim("p", "c")} AS neg_sim,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |        ${sim("p", "c")} DESC,
       |        c.vec_id) AS neg_rank
       |    FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
       |    WHERE p.vec_id IN (SELECT anchor FROM best)
       |      AND ${sim("p", "c")} < 0.30e0
       |      AND ${sim("p", "c")} >= 0.05e0) t
       |  WHERE neg_rank <= 3)
       |SELECT best.anchor AS anchor, positive, pos_sim, neg_rank, negative, neg_sim
       |FROM best JOIN neg ON neg.anchor = best.anchor
       |ORDER BY best.anchor, neg_rank""".stripMargin
  }

  /** The composed IVF training table under the driver oracle: pair
    * mining and best-positive are [[x2TrainingPairs]]' CTEs verbatim,
    * the negative stage is the coarse-replayed IVF candidate walk of
    * [[x2HardNegativesIvfSql]] with the anchor set as probes — so the
    * whole scale composition, not just its ranker, is value-checked. */
  private def x2TrainingPairsIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    trainingPairsIvf(emb, 3, 0.45, 0.30, 0.05)
      .orderBy(col("anchor"), col("neg_rank"))
  }

  private val x2TrainingPairsIvfSql = {
    def cos(v: String, c: String) =
      s"""(list_dot_product($v, $c) /
         |      (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c))))""".stripMargin
    s"""WITH ${ivfCoarseCommonSql(16)},
       |pr AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb, ${cos("a.v", "b.v")} AS cosine
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE ${cos("a.v", "b.v")} >= 0.45e0),
       |an AS (
       |  SELECT va AS anchor, vb AS positive, cosine AS pos_sim FROM pr
       |  UNION ALL
       |  SELECT vb AS anchor, va AS positive, cosine AS pos_sim FROM pr),
       |best AS (
       |  SELECT anchor, positive, pos_sim FROM (
       |    SELECT anchor, positive, pos_sim,
       |      ROW_NUMBER() OVER (PARTITION BY anchor
       |        ORDER BY pos_sim DESC, positive) AS r
       |    FROM an) t WHERE r = 1),
       |p AS (
       |  SELECT vec_id AS probe_id, v FROM e
       |  WHERE vec_id IN (SELECT anchor FROM best)),
       |plists AS (
       |  SELECT probe_id, cluster FROM (
       |    SELECT p.probe_id, c.cid AS cluster, row_number() OVER (
       |      PARTITION BY p.probe_id
       |      ORDER BY ${cos("p.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM p CROSS JOIN ic c) t WHERE rn <= 4),
       |cand AS (
       |  SELECT pl.probe_id, a.vec_id AS negative
       |  FROM plists pl JOIN asg a USING (cluster)
       |  WHERE a.vec_id <> pl.probe_id),
       |r AS (
       |  SELECT cand.probe_id, cand.negative,
       |    ${cos("p.v", "e.v")} AS neg_sim
       |  FROM cand JOIN p USING (probe_id) JOIN e ON e.vec_id = cand.negative),
       |neg AS (
       |  SELECT probe_id AS anchor, neg_rank, negative, neg_sim FROM (
       |    SELECT probe_id, negative, neg_sim,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY neg_sim DESC, negative) AS neg_rank
       |    FROM r WHERE neg_sim < 0.30e0 AND neg_sim >= 0.05e0) t
       |  WHERE neg_rank <= 3)
       |SELECT best.anchor AS anchor, positive, pos_sim, neg_rank, negative, neg_sim
       |FROM best JOIN neg ON neg.anchor = best.anchor
       |ORDER BY best.anchor, neg_rank""".stripMargin
  }

  /** [[cosineTopK]] with a caller-supplied exclusion GROUP: a candidate
    * whose group equals the probe's group is never returned (subsumes
    * the self-exclusion when groups are singletons). The RETRO
    * neighbor-causality rule (Borgeaud et al. 2022 §2.3) is the
    * motivating case — a chunk must not retrieve from its own document
    * or the model trains on leaked continuations — with `groupOf` a
    * pure column function of the id, so the predicate stays inside the
    * same broadcast join (no extra scan, no shuffle). */
  /** Margin-based bitext mining — the criterion parallel-corpus mining
    * actually uses (Artetxe & Schwenk, ACL 2019 §3; the CCMatrix /
    * LASER pipeline): raw cosine is a biased pair score because some
    * sentences are "hubs" that sit close to everything, so each
    * candidate pair (x, y) is rescored by its similarity RELATIVE to
    * both endpoints' neighborhoods,
    *
    *   margin(x, y) = cos(x, y) / ((avgₖ(x→tgt) + avgₖ(y→src)) / 2),
    *
    * and a pair is mined iff each side is the other's best-margin
    * candidate (the "max" strategy, mutual) and the margin clears
    * `minMargin`. Composition of verified pieces: two [[cosineTopK]]
    * passes (forward src→tgt, backward tgt→src — the corpus never
    * shuffles, probes broadcast), per-endpoint neighborhood means via
    * [[graft.core.Num.davg]] (order-independent, oracle-mirrored), the
    * margin as the same IEEE division in both engines, and mutual-best
    * as two rank-1 windows joined. Probe-side scale posture is the
    * family's ([[hardNegativesIvf]] note): both directions route
    * through the one-shot broadcast at fixture scale; a corpus-sized
    * side mines in slices ([[hardNegativesIvfBatched]] composes the
    * same way here because per-endpoint results are independent). */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int,
      minMargin: Double): DataFrame = {
    require(k >= 1, s"bitextMine: k must be >= 1, got $k")
    require(minMargin > 0, s"bitextMine: minMargin must be positive, got $minMargin")
    mineFromKnn(cosineTopKAcross(tgt, src, k), cosineTopKAcross(src, tgt, k),
      minMargin)
  }

  /** [[cosineTopK]] WITHOUT the self-exclusion predicate: across two
    * corpora an id collision is not an identity — src sentence i and
    * tgt sentence i are exactly the aligned pair bitext mining exists
    * to find (r19 review; the declared fixture's even/odd split never
    * collides, but the operator must not depend on that). */
  private[graft] def cosineTopKAcross(corpus: DataFrame, probes: DataFrame,
      k: Int): DataFrame =
    cosineRankCore(corpus, probes, k, lit(true))

  /** The mining tail shared by [[bitextMine]] and [[bitextMineBatched]]:
    * neighborhood means, margins, mutual best-margin, floor. */
  private[graft] def mineFromKnn(fwdKnn: DataFrame, bwdKnn: DataFrame,
      minMargin: Double): DataFrame = {
    val fwd = fwdKnn // src probes against the tgt corpus
      .select(col("probe_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("sim"))
    val bwd = bwdKnn
      .select(col("probe_id").as("tgt_id"), col("neighbor_id").as("src_id"),
        col("sim"))
    val aSrc = fwd.groupBy(col("src_id"))
      .agg(graft.core.Num.davg(col("sim")).as("a_src"))
    val aTgt = bwd.groupBy(col("tgt_id"))
      .agg(graft.core.Num.davg(col("sim")).as("a_tgt"))
    // the mean tables are one row per src/tgt VECTOR — corpus-sized in
    // the batched regime, so no broadcast hint: the planner broadcasts
    // them at fixture scale and shuffle-joins them at corpus scale
    // (r19 review)
    def withMargin(cand: DataFrame): DataFrame = cand
      .join(aSrc, Seq("src_id"))
      .join(aTgt, Seq("tgt_id"))
      .withColumn("margin",
        col("sim") / ((col("a_src") + col("a_tgt")) / lit(2.0)))
    val fBest = withMargin(fwd)
      .withColumn("rn", row_number().over(Window.partitionBy(col("src_id"))
        .orderBy(col("margin").desc, col("tgt_id"))))
      .filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"), col("sim"), col("margin"))
    val bBest = withMargin(bwd)
      .withColumn("rn", row_number().over(Window.partitionBy(col("tgt_id"))
        .orderBy(col("margin").desc, col("src_id"))))
      .filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"))
    fBest.join(bBest, Seq("src_id", "tgt_id"), "left_semi")
      .filter(col("margin") >= minMargin)
  }

  /** [[bitextMine]] for corpus-sized sides (both directions' PROBE set
    * is a full corpus — the one place in the family where the
    * broadcast bound binds by construction): each ranking pass runs as
    * an EAGER driver loop over pmod probe slices landing in a temp
    * store ([[hardNegativesIvfBatched]]'s composition and memory
    * argument — per-endpoint top-k and neighborhood means are
    * independent, so slice-union ≡ one-shot row-for-row, and eager
    * execution means one slice's probe broadcast is live at a time;
    * the declared `x2_bitext_sliced` row hash-matches the one-shot
    * oracle through 3-way slicing on both sides). The mining tail's
    * mean-table joins carry no broadcast hint for the same reason. */
  def bitextMineBatched(src: DataFrame, tgt: DataFrame, sliceSize: Long,
      k: Int, minMargin: Double): DataFrame = {
    require(k >= 1, s"bitextMineBatched: k must be >= 1, got $k")
    require(minMargin > 0,
      s"bitextMineBatched: minMargin must be positive, got $minMargin")
    require(sliceSize > 0, s"bitextMineBatched: sliceSize $sliceSize < 1")
    mineFromKnn(slicedTopKAcross(tgt, src, sliceSize, k, "fwd"),
      slicedTopKAcross(src, tgt, sliceSize, k, "bwd"), minMargin)
  }

  /** [[cosineTopKAcross]] for a corpus-sized PROBE side: an eager
    * driver loop over pmod probe slices landing in a reaper-registered
    * temp store (the [[hardNegativesIvfBatched]] composition and memory
    * argument — per-probe top-k is independent, so slice-union ≡
    * one-shot row-for-row, and eager execution keeps one slice's probe
    * broadcast live at a time). Shared by [[bitextMineBatched]] and the
    * streaming rung's per-batch forward pass. */
  private[graft] def slicedTopKAcross(corpus: DataFrame, probes: DataFrame,
      sliceSize: Long, k: Int, tag: String,
      scratchRoot: Option[String] = None): DataFrame = {
    require(sliceSize > 0, s"slicedTopKAcross: sliceSize $sliceSize < 1")
    val n = probes.count()
    if (n == 0) return cosineTopKAcross(corpus, probes, k)
    val nSlices = ((n + sliceSize - 1) / sliceSize).toInt
    val body = { (s: Int, dir: String) =>
      cosineTopKAcross(corpus,
        probes.filter(pmod(col("vec_id"), lit(nSlices.toLong)) === s), k)
        .write.parquet(dir); ()
    }
    val schema = "probe_id BIGINT, rnk INT, neighbor_id BIGINT, sim DOUBLE"
    scratchRoot match {
      case Some(root) => sliceLoopIn(corpus.sparkSession, root, nSlices)(body)(schema)
      case None => sliceLoop(corpus.sparkSession, s"graft-bitext-$tag", nSlices)(body)(schema)
    }
  }

  /** Declared: the even-id half of the embeddings table mined against
    * the odd-id half (two disjoint "languages" with genuinely shared
    * structure — the fixture's cluster labels span both halves), k = 4
    * neighborhoods, margin floor 1.0 — the spec asserts the floor and
    * the mutuality test BOTH exclude candidates on the fixture, so
    * neither is decorative. */
  private def x2BitextMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    bitextMine(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), 4, 1.0)
      .orderBy(col("src_id"))
  }

  /** Declared: the batched form through forced 3-way slicing on BOTH
    * probe sides, against the SAME oracle as the one-shot row. */
  private def x2BitextSliced(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val third = (emb.count() / 2 + 2) / 3
    bitextMineBatched(src, tgt, math.max(1L, third), 4, 1.0)
      .orderBy(col("src_id"))
  }

  private[graft] val x2BitextMineSql = {
    val sim = """(list_dot_product(s.v, t.v) /
      |      (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(t.v, t.v))))""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT * FROM e WHERE vec_id % 2 = 0),
       |t AS (SELECT * FROM e WHERE vec_id % 2 = 1),
       |cs AS (
       |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id, $sim AS sim
       |  FROM s CROSS JOIN t),
       |fknn AS (SELECT src_id, tgt_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) rn
       |  FROM cs) f WHERE rn <= 4),
       |bknn AS (SELECT src_id, tgt_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) rn
       |  FROM cs) b WHERE rn <= 4),
       |asrc AS (SELECT src_id, ${graft.core.Num.sqlAvg("sim")} AS a_src FROM fknn GROUP BY src_id),
       |atgt AS (SELECT tgt_id, ${graft.core.Num.sqlAvg("sim")} AS a_tgt FROM bknn GROUP BY tgt_id),
       |fbest AS (SELECT src_id, tgt_id, sim, margin FROM (
       |  SELECT f.src_id, f.tgt_id, f.sim,
       |    f.sim / ((a.a_src + b.a_tgt) / 2e0) AS margin,
       |    row_number() OVER (PARTITION BY f.src_id
       |      ORDER BY f.sim / ((a.a_src + b.a_tgt) / 2e0) DESC, f.tgt_id) rn
       |  FROM fknn f JOIN asrc a USING (src_id) JOIN atgt b USING (tgt_id)) q
       |  WHERE rn = 1),
       |bbest AS (SELECT src_id, tgt_id FROM (
       |  SELECT f.src_id, f.tgt_id,
       |    row_number() OVER (PARTITION BY f.tgt_id
       |      ORDER BY f.sim / ((a.a_src + b.a_tgt) / 2e0) DESC, f.src_id) rn
       |  FROM bknn f JOIN asrc a USING (src_id) JOIN atgt b USING (tgt_id)) q
       |  WHERE rn = 1)
       |SELECT fb.src_id, fb.tgt_id, fb.sim, fb.margin
       |FROM fbest fb JOIN bbest bb ON fb.src_id = bb.src_id AND fb.tgt_id = bb.tgt_id
       |WHERE fb.margin >= 1.0e0
       |ORDER BY fb.src_id""".stripMargin
  }

  def cosineTopKExcludingGroup(emb: DataFrame, probes: DataFrame, k: Int,
      groupOf: Column => Column): DataFrame =
    cosineRankCore(emb, probes, k,
      groupOf(col("neighbor_id")) =!= groupOf(col("probe_id")))

  /** Scalar-quantized retrieval — FAISS `IndexScalarQuantizer`
    * (QT_8bit) as a Spark verb: the corpus is stored as int8 codes
    * (4× smaller than float32 — [[Curation.quantizeInt8]]'s per-dim
    * min/max grid, the same frozen quantizer), and queries score
    * ASYMMETRICALLY — full-precision probe against dequantized corpus
    * values (code → lo + q·(hi−lo)/255), the SQ distance-computer
    * shape that keeps all the probe's precision. Between PQ (32×, ADC
    * tables) and raw float (1×), this is the middle storage tier
    * production indexes actually deploy for re-rankable shortlists.
    * One map-only dequantize pass + the [[cosineTopK]] broadcast
    * top-k; the (mn, mx) grid is dim-bounded driver state broadcast
    * like PQ codebooks. Dequantization is value-replayable, so the
    * whole ranking hash-matches a DuckDB oracle — no recall bound
    * needed. */
  def sq8TopK(emb: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (mn, mx) = Curation.dimMinMax(emb)
    val bc = spark.sparkContext.broadcast((mn, mx))
    val deq = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (bmn, bmx) = bc.value
        val d = new Array[Double](v.length)
        var i = 0
        while (i < v.length) {
          val lo = bmn(i); val hi = bmx(i)
          d(i) = if (hi == lo) lo
            else lo + math.floor((v(i).toDouble - lo) * 255.0 / (hi - lo)) * (hi - lo) / 255.0
          i += 1
        }
        (id, d)
      }.toDF("vec_id", "embedding")
    cosineTopK(deq, probes, k)
  }

  private def x2Sq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    sq8TopK(emb, emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** [[x2BruteSql]] with the corpus side dequantized through the same
    * per-dim grid — asymmetric: probes stay full-precision. */
  private val x2Sq8TopKSql = {
    val sim = """list_dot_product(CAST(p.embedding AS DOUBLE[]), c.dvec) /
      |      (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(c.dvec, c.dvec)))""".stripMargin
    s"""WITH d AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |         unnest(embedding)::DOUBLE AS v
       |  FROM embeddings),
       |mm AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM d GROUP BY dim),
       |dq AS (
       |  SELECT vec_id,
       |    list(CASE WHEN mx = mn THEN mn
       |         ELSE mn + floor((v - mn) * 255 / (mx - mn)) * (mx - mn) / 255.0 END
       |         ORDER BY dim) AS dvec
       |  FROM d JOIN mm USING (dim) GROUP BY vec_id)
       |SELECT probe_id, rnk, neighbor_id, sim FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |    $sim AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |      $sim DESC,
       |      c.vec_id) AS rnk
       |  FROM embeddings p JOIN dq c ON p.vec_id < 10 AND c.vec_id <> p.vec_id) t
       |WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** SQ8 shortlist → exact re-rank — the refine serve at the SQ8 rung,
    * completing the ladder's symmetry (every storage tier now has its
    * exact-rerank twin: binary → [[binaryRerank]], SQ8 → this,
    * PQ-ADC → [[ivfPqRefine]]): the 1-byte-per-dim scan mines a
    * `shortlist`-deep candidate set per probe, and ONLY those rows pay
    * full-precision L2 ([[exactRerank]] — the shortlist broadcasts
    * back against the corpus, so the corpus never shuffles in either
    * stage). Deterministic both stages (dequantized cosine + id
    * tie-break, then exact L2 + id tie-break) — stage-replay oracle,
    * hash-matched. */
  def sq8Rerank(emb: DataFrame, probes: DataFrame, shortlist: Int,
      k: Int): DataFrame = {
    require(shortlist >= k,
      s"sq8Rerank: shortlist ($shortlist) must be >= k ($k) — a shorter " +
        "shortlist silently starves every probe below the requested topK")
    val short = sq8TopK(emb, probes, shortlist)
      .select(col("probe_id"), col("neighbor_id").as("vec_id"))
    exactRerank(short, emb, probes, k)
  }

  private def x2Sq8Rerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    sq8Rerank(emb, emb.filter(col("vec_id") < 10), 20, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Oracle: the SQ8 dequantize + cosine shortlist at depth 20 (the
    * x2_sq8_topk expression re-cut), exact-L2 re-rank on the shortlist
    * only — the x2_ivfpq_refined replay discipline at the SQ8 rung. */
  private def x2Sq8RerankSql: String = {
    val sim = """list_dot_product(CAST(p.embedding AS DOUBLE[]), c.dvec) /
      |        (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
      |         sqrt(list_dot_product(c.dvec, c.dvec)))""".stripMargin
    s"""WITH d AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |         unnest(embedding)::DOUBLE AS v
       |  FROM embeddings),
       |mm AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM d GROUP BY dim),
       |dq AS (
       |  SELECT vec_id,
       |    list(CASE WHEN mx = mn THEN mn
       |         ELSE mn + floor((v - mn) * 255 / (mx - mn)) * (mx - mn) / 255.0 END
       |         ORDER BY dim) AS dvec
       |  FROM d JOIN mm USING (dim) GROUP BY vec_id),
       |short AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
       |        $sim DESC,
       |        c.vec_id) AS srnk
       |    FROM embeddings p JOIN dq c ON p.vec_id < 10 AND c.vec_id <> p.vec_id) t
       |  WHERE srnk <= 20),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |scored AS (
       |  SELECT s.probe_id, s.neighbor_id AS vec_id,
       |    ${pqD2("p.v", "c.v")} AS dist
       |  FROM short s
       |  JOIN ev c ON c.vec_id = s.neighbor_id
       |  JOIN ev p ON p.vec_id = s.probe_id)
       |SELECT probe_id, vec_id, rnk, dist FROM (
       |  SELECT probe_id, vec_id, dist,
       |    CAST(row_number() OVER (
       |      PARTITION BY probe_id ORDER BY dist, vec_id) AS INTEGER) AS rnk
       |  FROM scored) t
       |WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** The PERSISTED half of the SQ8 tier — build-once/query-many like
    * [[IndexStore]]'s PQ store, but deliberately lightweight: the
    * artifact is immutable (grid + codes written once, replaced
    * wholesale — rebuild-on-drift via the warehouse fingerprint;
    * incremental maintenance/tombstones are the PQ store's manifest
    * protocol, not duplicated here). Codes land as BINARY — genuinely
    * ONE byte per dimension on disk, the 4× storage claim made real,
    * not an int array wearing a quantized name. */
  def buildSq8(emb: DataFrame, dir: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (mn, mx) = Curation.dimMinMax(emb)
    mn.indices.map(i => (i, mn(i), mx(i))).toDF("dim", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/grid")
    val bc = spark.sparkContext.broadcast((mn, mx))
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (bmn, bmx) = bc.value
        val q = new Array[Byte](v.length)
        var i = 0
        while (i < v.length) {
          val lo = bmn(i); val hi = bmx(i)
          q(i) = (if (hi == lo) 0
            else math.floor((v(i).toDouble - lo) * 255.0 / (hi - lo)).toInt).toByte
          i += 1
        }
        (id, q)
      }.toDF("vec_id", "codes")
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Serve from the stored codes: the grid is dim-bounded driver state
    * (the codebook-reload discipline, explicit schemas — no inference
    * job), dequantize is one map-only pass over the 1-byte-per-dim
    * codes, and the ranking is [[cosineTopK]]'s broadcast top-k —
    * bit-identical to the composed [[sq8TopK]], same oracle. */
  def searchSq8(spark: SparkSession, dir: String, probes: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val grid = spark.read.schema("dim INT, mn DOUBLE, mx DOUBLE")
      .parquet(IndexStore.requireTable(spark, dir, "grid"))
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    val mn = grid.map(_._2); val mx = grid.map(_._3)
    val bc = spark.sparkContext.broadcast((mn, mx))
    val deq = spark.read.schema("vec_id BIGINT, codes BINARY")
      .parquet(IndexStore.requireTable(spark, dir, "codes"))
      .as[(Long, Array[Byte])]
      .map { case (id, q) =>
        val (bmn, bmx) = bc.value
        val d = new Array[Double](q.length)
        var i = 0
        while (i < q.length) {
          val lo = bmn(i); val hi = bmx(i)
          d(i) = if (hi == lo) lo else lo + (q(i) & 0xff) * (hi - lo) / 255.0
          i += 1
        }
        (id, d)
      }.toDF("vec_id", "embedding")
    cosineTopK(deq, probes, k)
  }

  private def x2Sq8Persisted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val ixDir = IndexStore.ensureArtifactFor(spark, s"$dir/embeddings.parquet",
      "sq8-255", "sq8", "v1",
      d => buildSq8(Tables.load(spark, dir, "embeddings"), d))
    searchSq8(spark, ixDir, emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  // --------------------------------------------- binary (sign-bit) tier
  /** Sign bits of the vector packed into ONE 64-bit word: bit i is set
    * iff `v[i] > 0` (a zero coordinate packs as 0 — irrelevant on the
    * continuous fixture, stated for the contract). Pure column
    * expressions (64 `when`s OR-folded — whole-stage codegen'd, no
    * UDF), so packing is a map-only pass over the corpus. */
  def signBits(v: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 64,
      s"signBits packs into one 64-bit word: dim must be 1..64, got $dim")
    (0 until dim).map { i =>
      when(element_at(v, i + 1) > lit(0f), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** Binary (sign-bit) retrieval — the bottom rung of the storage
    * ladder this family now covers end to end (binary 32× / SQ8 4× /
    * PQ-ADC / full float): FAISS `IndexBinaryFlat` as a Spark verb.
    * Each vector collapses to one bit per dimension (dim ≤ 64 → a
    * single BIGINT column), and distance is Hamming =
    * `bit_count(pcode XOR ncode)` — one XOR + popcount per candidate,
    * the cheapest shortlist scorer that exists. Same plan shape as
    * [[cosineTopK]]: probes broadcast, corpus never shuffles, and
    * Spark 4's `InferWindowGroupLimit` turns the rank filter into a
    * map-side group limit, so the exchange carries ≤ partitions ×
    * probes × k rows. Hash-exact (integer distances, id tie-break) —
    * the oracle recomputes Hamming semantically from the float signs,
    * so it also proves the packing lost nothing. */
  def binaryTopK(emb: DataFrame, probes: DataFrame, k: Int, dim: Int): DataFrame = {
    // same guard as buildBinary (ADVICE r17): a dim narrower than the
    // data silently packs only the first `dim` signs and serves degraded
    // rankings; a wider one throws mid-query from element_at under ANSI.
    // The guard is IN-PLAN (ADVICE r18 — no per-serve driver job) and
    // covers binaryRerank, which routes through here.
    def guarded(c: Column) = dimGuarded(c, dim,
      s"binaryTopK: dim=$dim but the embeddings have ",
      " dimensions — a partial packing would serve silently degraded " +
        "Hamming rankings")
    hammingTopK(
      emb.select(col("vec_id").as("neighbor_id"),
        signBits(guarded(col("embedding")), dim).as("ncode")),
      probes.select(col("vec_id").as("probe_id"),
        signBits(guarded(col("embedding")), dim).as("pcode")),
      k)
  }

  /** Shared ranking core of the composed and persisted binary serves —
    * one code table shape in, one ranking out, so the store round-trip
    * is bit-identical BY CONSTRUCTION, not by parallel maintenance. */
  private def hammingTopK(codes: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    codes.join(broadcast(probes), col("neighbor_id") =!= col("probe_id"))
      .withColumn("hamming", bit_count(col("pcode").bitwiseXOR(col("ncode"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("hamming"))
  }

  /** The PERSISTED half of the binary tier — the [[buildSq8]]
    * discipline one rung down: codes land as ONE BIGINT per vector
    * (genuinely 8 bytes — the 32× storage claim on disk, spec-checked
    * on the artifact's parquet schema), plus a 1-row meta table
    * carrying the packing dim so a store built at one dimensionality
    * refuses mismatched probes instead of silently XOR-ing garbage.
    * Immutable like the SQ8 artifact: rebuild-on-drift by fingerprint;
    * incremental maintenance is the PQ store's manifest protocol. */
  def buildBinary(emb: DataFrame, dir: String, dim: Int): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // a dim narrower than the data would silently pack HALF the signs
    // and only surface at serve time — catch the bad build where it
    // happens (review r17), in-plan so the build's own write job checks
    // every row (ADVICE r18); empty corpora build an empty store freely
    Seq(dim).toDF("dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    emb.select(col("vec_id"),
        signBits(dimGuarded(col("embedding"), dim,
          s"buildBinary: dim=$dim but the embeddings have ",
          " dimensions — a partial packing would serve silently degraded " +
            "Hamming rankings"), dim).as("code"))
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Serve from the stored sign-bit codes: the meta reload is one row,
    * probes pack on the fly (map-only, broadcast), and the ranking is
    * [[hammingTopK]] verbatim — bit-identical to the composed
    * [[binaryTopK]], same oracle. */
  def searchBinary(spark: SparkSession, dir: String, probes: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    val dim = spark.read.schema("dim INT")
      .parquet(IndexStore.requireTable(spark, dir, "meta"))
      .as[Int].head()
    // empty probe batches serve empty (the EdgeCaseSpec contract) —
    // the in-plan guard (ADVICE r18) passes vacuously on zero rows and
    // costs no driver job on the serve path
    val guardedProbes = probes.withColumn("embedding",
      dimGuarded(col("embedding"), dim,
        s"binary store packed at dim=$dim cannot serve dim=", " probes"))
    hammingTopK(
      spark.read.schema("vec_id BIGINT, code BIGINT")
        .parquet(IndexStore.requireTable(spark, dir, "codes"))
        .select(col("vec_id").as("neighbor_id"), col("code").as("ncode")),
      guardedProbes.select(col("vec_id").as("probe_id"),
        signBits(col("embedding"), dim).as("pcode")),
      k)
  }

  private def x2BinaryPersisted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val dim = embDim(emb)
    val ixDir = IndexStore.ensureArtifactFor(spark, s"$dir/embeddings.parquet",
      "binary-sign", "binary", "v1",
      d => buildBinary(Tables.load(spark, dir, "embeddings"), d, dim))
    searchBinary(spark, ixDir, emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Binary shortlist → exact rerank: Hamming mines `shortlist`
    * candidates per probe (the 8-byte-per-vector scan), then ONLY those
    * rows pay full-precision cosine — the asymmetric two-stage serve
    * binary indexes exist for. The candidate set is probes × shortlist
    * rows by construction, so the rerank side BROADCASTS it against the
    * corpus scan (the corpus never shuffles in either stage). Both
    * stages are deterministic (integer Hamming + id tie-break, then
    * sim + id tie-break), so the composed result hash-matches an oracle
    * that replays stage by stage. */
  def binaryRerank(emb: DataFrame, probes: DataFrame, shortlist: Int, k: Int,
      dim: Int): DataFrame = {
    require(shortlist >= k,
      s"binaryRerank: shortlist ($shortlist) must be >= k ($k) — a shorter " +
        "shortlist silently starves every probe below the requested topK")
    val cand = binaryTopK(emb, probes, shortlist, dim)
      .select(col("probe_id"), col("neighbor_id"), col("hamming"))
    val corpus = prep(emb, "neighbor_id", "nv", "nn")
    val p = prep(probes, "probe_id", "pv", "pn")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    corpus.join(broadcast(cand), "neighbor_id")
      .join(broadcast(p), "probe_id")
      .withColumn("sim", dot(col("pv"), col("nv")) / (col("pn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        col("hamming"), col("sim"))
  }

  private def embDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head.getInt(0)

  /** [[embDim]] that survives an empty frame (None) — for paths whose
    * contract is serve-empty rather than throw on zero probes. */
  private def embDimOpt(emb: DataFrame): Option[Int] =
    emb.select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0))

  /** In-plan dim guard (ADVICE r18): the check rides the serving job as
    * a per-row conditional on a column the pass reads anyway — the old
    * [[embDimOpt]] require cost a limit(1).collect() DRIVER JOB on
    * every composed serve (binaryRerank routed through it too). The
    * failure is lazy (fires when the plan executes) but checks EVERY
    * row, not one; empty frames trivially pass, which is the
    * serve-empty contract. */
  private def dimGuarded(v: Column, dim: Int, msgPrefix: String,
      msgSuffix: String): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(msgPrefix), size(v).cast(StringType), lit(msgSuffix))))

  private def x2BinaryTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    binaryTopK(emb, emb.filter(col("vec_id") < 10), 5, embDim(emb))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Oracle recomputes Hamming SEMANTICALLY — the count of dimensions
    * whose signs disagree — rather than replaying the bit packing, so a
    * packing bug (wrong bit index, sign-bit overflow, dropped dim)
    * cannot cancel out of the comparison. */
  private val x2BinaryTopKSql =
    """WITH h AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |    CAST(len([i for i in range(64)
      |              if (p.embedding[i+1] > 0) != (c.embedding[i+1] > 0)]) AS INTEGER) AS hamming
      |  FROM embeddings p JOIN embeddings c
      |    ON p.vec_id < 10 AND c.vec_id <> p.vec_id)
      |SELECT probe_id, rnk, neighbor_id, hamming FROM (
      |  SELECT probe_id, neighbor_id, hamming,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY hamming, neighbor_id) AS rnk
      |  FROM h) t
      |WHERE rnk <= 5
      |ORDER BY probe_id, rnk""".stripMargin

  private def x2BinaryRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    binaryRerank(emb, emb.filter(col("vec_id") < 10), 50, 5, embDim(emb))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Stage-by-stage replay: the Hamming shortlist CTE (same semantic
    * recomputation as [[x2BinaryTopKSql]]) feeds the exact-cosine
    * rerank, divisions written in the Spark evaluation order. */
  private val x2BinaryRerankSql =
    """WITH h AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |    CAST(len([i for i in range(64)
      |              if (p.embedding[i+1] > 0) != (c.embedding[i+1] > 0)]) AS INTEGER) AS hamming
      |  FROM embeddings p JOIN embeddings c
      |    ON p.vec_id < 10 AND c.vec_id <> p.vec_id),
      |cand AS (
      |  SELECT probe_id, neighbor_id, hamming FROM (
      |    SELECT probe_id, neighbor_id, hamming,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY hamming, neighbor_id) AS srnk
      |    FROM h) t
      |  WHERE srnk <= 50),
      |scored AS (
      |  SELECT cand.probe_id, cand.neighbor_id, cand.hamming,
      |    list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS sim
      |  FROM cand
      |  JOIN embeddings p ON p.vec_id = cand.probe_id
      |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
      |SELECT probe_id, rnk, neighbor_id, hamming, sim FROM (
      |  SELECT probe_id, neighbor_id, hamming, sim,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM scored) t
      |WHERE rnk <= 5
      |ORDER BY probe_id, rnk""".stripMargin

  // ------------------------------------------------------ LSH-bucketed
  /** Deterministic random hyperplanes (seed 42), dim × planes. */
  private[operators] def hyperplanes(dim: Int, planes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of each vector under the hyperplanes, plus the
    * multi-probe signature `msig`: within each 4-bit band, the bit whose
    * hyperplane margin |dot| was smallest is flipped (Lv et al.'s
    * multi-probe LSH, VLDB'07 — the nearest "perturbed" bucket is the
    * one across the closest hyperplane). A compact UDF with a primitive
    * double loop (the 16×dim plane matrix rides the closure) — far
    * cheaper than 16×dim generated column expressions and still a
    * map-only pass. */
  def signatures(emb: DataFrame, dim: Int, planes: Int = 16): DataFrame = {
    val hp = hyperplanes(dim, planes)
    val bandBits = 4
    val sigUdf = udf { (v: Seq[Float]) =>
      var sig = 0L
      var msig = 0L
      var j = 0
      var bandMin = Double.MaxValue
      var bandMinBit = 0
      while (j < planes) {
        // reset at band START, not after band end: if every margin in a
        // band is NaN/Inf (a NaN embedding value), `m < bandMin` never
        // fires and a stale bit from the PREVIOUS band would be flipped,
        // silently cancelling this band's multi-probe perturbation
        if (j % bandBits == 0) { bandMin = Double.MaxValue; bandMinBit = j }
        val row = hp(j)
        var s = 0.0; var i = 0
        while (i < dim) { s += v(i) * row(i); i += 1 }
        if (s >= 0) sig |= (1L << j)
        val m = math.abs(s)
        if (m < bandMin) { bandMin = m; bandMinBit = j }
        if (j % bandBits == bandBits - 1) // band complete: flip weakest
          msig |= (1L << bandMinBit)
        j += 1
      }
      (sig, sig ^ msig)
    }
    emb.select(col("vec_id"), col("embedding"), sigUdf(col("embedding")).as("_s"))
      .select(col("vec_id"), col("embedding"),
        col("_s._1").as("sig"), col("_s._2").as("msig"))
  }

  /** Candidate pairs for probes: corpus vectors sharing ≥1 of the 4
    * 4-bit signature bands with the probe, where the probe contributes
    * BOTH its exact band chunk and its multi-probe chunk (weakest bit
    * flipped) — ~2× the candidates for roughly double the recall. Still
    * a keyed equi-join on (band, chunk); the corpus side stays one
    * signature (the index is never widened, only the probes). */
  def annCandidates(corpusSigs: DataFrame, probeSigs: DataFrame): DataFrame = {
    def chunk(sigCol: String, b: Int): Column =
      shiftrightunsigned(col(sigCol), b * 4).bitwiseAND(0xfL)
    val corpus = corpusSigs.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_id_emb"),
      posexplode(array((0 until 4).map(b => chunk("sig", b)): _*))
        .as(Seq("band", "chunk")))
    // per band: explode the distinct {exact, multi-probe} chunk pair
    val probe = probeSigs.select(
      col("vec_id").as("probe_id"), col("embedding").as("probe_id_emb"),
      posexplode(array((0 until 4).map(b =>
        array_distinct(array(chunk("sig", b), chunk("msig", b)))): _*))
        .as(Seq("band", "chunks")))
      .select(col("probe_id"), col("probe_id_emb"), col("band"),
        explode(col("chunks")).as("chunk"))
    probe.join(corpus, Seq("band", "chunk"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("probe_id_emb"), col("neighbor_id"), col("neighbor_id_emb"))
      .distinct()
  }

  /** Approximate top-k: exact cosine over the LSH candidate set only. */
  def annTopK(emb: DataFrame, probes: DataFrame, dim: Int, k: Int): DataFrame = {
    val raw = annCandidates(signatures(emb, dim), signatures(probes, dim))
    val cands = raw
      .select(col("probe_id"), widened(raw, "probe_id_emb").as("pv"),
        col("neighbor_id"), widened(raw, "neighbor_id_emb").as("nv"))
      .withColumn("pn", normU(col("pv")))
      .withColumn("nn", normU(col("nv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cands
      .withColumn("sim", dot(col("pv"), col("nv")) / (col("pn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  // ------------------------------------------------------- IVF variant
  /** IVF-style cluster-pruned ANN — the scale path when hyperplane LSH
    * recall is not enough: partition the corpus into `nlist` inverted
    * lists by nearest centroid, search only the `nprobe` lists closest
    * to each probe. Candidate generation is a keyed equi-join on
    * cluster id; exact scoring touches ~nprobe/nlist of the corpus.
    *
    * Centroids are a deterministic sample (first `nlist` by vec_id) —
    * real deployments would k-means-refine them, which changes recall
    * but not the dataflow shape. Assignment is a map-only pass with the
    * (tiny) centroid set broadcast.
    */
  /** Deterministic centroid sample with norms, collected once and shared
    * by assignment and probe routing. */
  private[operators] def centroids(emb: DataFrame, nlist: Int): Array[(Long, Array[Double], Double)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().map { case (id, v) =>
        val d = v.map(_.toDouble)
        (id, d, math.sqrt(d.map(x => x * x).sum))
      }
  }

  /** nlist ~ √n, floored and CAPPED: the standard IVF sizing rule —
    * per-list size and list count both grow as √n, so the candidate
    * fraction of a cluster-pruned pass (~nassign²/nlist for
    * multi-assignment, or nprobe/nlist for probe routing) FALLS as the
    * corpus grows instead of relying on a hand-retuned constant. Costs
    * one count() action on the corpus when a caller requests auto
    * sizing (nlist ≤ 0).
    *
    * The cap keeps the centroid state driver-safe: every IVF path
    * collects and broadcasts nlist × dim doubles (the bounded-collect
    * contract of [[kmeansCentroids]]), and uncapped √n at 10^10
    * vectors × dim 1024 would be an 800 GB "bounded" collect. 4096
    * lists × dim 1024 is 32 MB — broadcastable — while the saturated
    * candidate fraction nassign²/4096 ≈ 0.2 % still collapses the
    * quadratic; beyond that scale, sharding the corpus (xc_shard) and
    * running IVF per shard is the standard next tier. */
  def autoNlist(n: Long, floor: Int = 16, cap: Int = 4096): Int =
    math.min(cap.toLong, math.max(floor.toLong,
      math.round(math.sqrt(n.toDouble)))).toInt

  private[operators] def resolveNlist(emb: DataFrame, nlist: Int, floor: Int): Int =
    if (nlist > 0) nlist else autoNlist(emb.count(), floor)

  def ivfAssign(emb: DataFrame, nlist: Int): DataFrame =
    ivfAssignWith(emb, centroids(emb, resolveNlist(emb, nlist, 16)))

  /** Lloyd-refined centroids: `iters` rounds of assign → per-cluster
    * mean. Each round is one map-only assignment pass plus a keyed
    * aggregation that partially combines to nlist × dim rows before the
    * shuffle (posexplode puts the per-dimension sums through a two-phase
    * HashAggregate — the full vectors never shuffle); the collect is
    * nlist × dim doubles, bounded exactly like the sample collect.
    * Dimension sums go through DECIMAL so the centroid doubles are
    * independent of partial-aggregation order — refinement is
    * bit-deterministic run to run. Empty clusters keep their previous
    * centroid. */
  private[operators] def kmeansCentroids(emb: DataFrame, nlist: Int,
      iters: Int): Array[(Long, Array[Double], Double)] = {
    var cents = centroids(emb, nlist)
    if (cents.isEmpty) return cents // empty corpus: degrade like iters=0
    val dim = cents.head._2.length
    for (_ <- 0 until iters) {
      val rows = ivfAssignWith(emb, cents)
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v").cast(DecimalType(28, 10))).cast(DoubleType).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val sums = new scala.collection.mutable.HashMap[Long, (Array[Double], Long)]()
      rows.foreach { r =>
        val (acc, _) = sums.getOrElseUpdate(r.getLong(0), (new Array[Double](dim), r.getLong(3)))
        acc(r.getInt(1)) = r.getDouble(2)
      }
      cents = cents.map { case (cid, oldV, oldN) =>
        sums.get(cid) match {
          case Some((acc, n)) =>
            val v = acc.map(_ / n)
            (cid, v, math.sqrt(v.map(x => x * x).sum))
          case None => (cid, oldV, oldN)
        }
      }
    }
    cents
  }

  private[operators] def ivfAssignWith(
      emb: DataFrame, cents: Array[(Long, Array[Double], Double)]): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(cents)
    val assignUdf = udf { (v: Seq[Float]) =>
      val cs = bc.value
      var bestId = -1L; var best = Double.NegativeInfinity
      val d = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { d(i) = v(i); i += 1 }
      var nv = 0.0; i = 0
      while (i < d.length) { nv += d(i) * d(i); i += 1 }
      nv = math.sqrt(nv)
      cs.foreach { case (cid, cv, cn) =>
        var dot = 0.0; var j = 0
        while (j < cv.length) { dot += d(j) * cv(j); j += 1 }
        val cos = dot / (nv * cn)
        if (cos > best) { best = cos; bestId = cid }
      }
      // zero-norm fallback, identical to [[ivfResiduals]]: a FINITE
      // zero vector takes the oracle's NaN tie-break (lowest cid);
      // non-finite garbage keeps the quarantining cluster=-1
      if (bestId < 0 && nv == 0.0) bestId = cs(0)._1
      bestId
    }
    emb.withColumn("cluster", assignUdf(col("embedding")))
  }

  /** K-means cluster assignment over the embedding column — the
    * embedding-space bucketing step LLM curation pipelines run before
    * per-cluster work (SemDeDup, arXiv:2303.09540, clusters FIRST and
    * dedups within clusters; topic balancing samples per cluster).
    * Deterministic end to end, so a SQL oracle can replay it exactly:
    * init is the first `k` vectors by vec_id ([[centroids]]), each Lloyd
    * round is one broadcast map-only assignment + a decimal-exact
    * per-dimension mean ([[kmeansCentroids]] — full vectors never
    * shuffle, sums are order-independent), ties go to the lowest
    * centroid id, empty clusters keep their previous centroid. The
    * driver state is k × dim doubles per round — the same bounded
    * collect as every IVF path; at 100 TB the corpus-side work is
    * `iters`+1 map passes plus one k×dim-row shuffle per round. */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int): DataFrame =
    ivfAssignWith(emb, kmeansCentroids(emb, k, iters))
      .select(col("vec_id"), col("cluster"))

  /** nprobe nearest clusters per probe (same centroid set). */
  private[operators] def ivfProbeClusters(probes: DataFrame,
      cents: Array[(Long, Array[Double], Double)], nprobe: Int): DataFrame = {
    val bc = probes.sparkSession.sparkContext.broadcast(cents)
    val topClustersUdf = udf { (v: Seq[Float]) =>
      val cs = bc.value
      val d = v.map(_.toDouble).toArray
      val nv = math.sqrt(d.map(x => x * x).sum)
      cs.map { case (cid, cv, cn) =>
        var dot = 0.0; var j = 0
        while (j < cv.length) { dot += d(j) * cv(j); j += 1 }
        (cid, dot / (nv * cn))
      }.sortBy(-_._2).take(nprobe).map(_._1)
    }
    probes.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
      explode(topClustersUdf(col("embedding"))).as("cluster"))
  }

  /** Approximate top-k via IVF: probes search their nprobe lists only.
    * `kmeansIters` > 0 Lloyd-refines the sampled centroids first —
    * better-balanced lists and higher recall for the same nprobe.
    * `nlist` ≤ 0 auto-sizes to √n (see [[autoNlist]]).
    *
    * Contract: `probes` is a small set. Its routes (probes × `nprobe`
    * rows, each with the probe's vector widened to doubles) are always
    * broadcast to every executor, with no size check, so the probe set
    * must fit comfortably in driver and executor memory: split a large
    * probe set into slices before calling. */
  def ivfTopK(emb: DataFrame, probes: DataFrame,
      nlist: Int, nprobe: Int, k: Int, kmeansIters: Int = 0): DataFrame = {
    val nl = resolveNlist(emb, nlist, 16)
    ivfTopKWith(emb, probes,
      // one collect + one shared broadcastable array
      if (kmeansIters > 0) kmeansCentroids(emb, nl, kmeansIters)
      else centroids(emb, nl),
      nprobe, k)
  }

  /** Same, against an already-built centroid array — callers that also
    * need the candidate set (x2_ann_ivf's bound row) pass one shared
    * array so the Lloyd refinement runs once, not per use. */
  private[operators] def ivfTopKWith(emb: DataFrame, probes: DataFrame,
      cents: Array[(Long, Array[Double], Double)], nprobe: Int, k: Int): DataFrame = {
    // widen + norm per SIDE before the cluster join (r20): the joined
    // stream is per (probe, candidate) pair — the old projection paid
    // an interpreted per-element cast + norm per pair
    val asgRaw = ivfAssignWith(emb, cents)
    val assigned = asgRaw
      .select(col("vec_id").as("neighbor_id"),
        widened(asgRaw, "embedding").as("nv"), col("cluster"))
      .withColumn("nn", normU(col("nv")))
    val pcRaw = ivfProbeClusters(probes, cents, nprobe)
    val pc = pcRaw
      .select(col("cluster"), col("probe_id"), widened(pcRaw, "p_emb").as("pv"))
      .withColumn("pn", normU(col("pv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    // broadcast the probe-routes side (r21, guide §3.1/§2.4): only the
    // centroids are driver-collected here, not the probes, so the hint
    // holds only under ivfTopK's small-probe-set contract (one row per
    // probe × nprobe, widened vectors included). Without the hint the
    // planner can shuffle BOTH sides on `cluster` — nlist≈16 distinct
    // keys over 32 partitions, i.e. a skewed exchange now carrying the
    // corpus's WIDENED double[] vectors (the r20 per-side hoist doubled
    // that exchange's bytes, §2.3). Broadcasting pc removes the corpus-side
    // exchange entirely: assignment streams map-side into the scoring
    // join and only the window's probe_id exchange remains.
    broadcast(pc).join(assigned, Seq("cluster"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("pv"), col("pn"),
        col("neighbor_id"), col("nv"), col("nn"))
      .withColumn("sim", dot(col("pv"), col("nv")) / (col("pn") * col("nn")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  // ----------------------------------------------------------- declared
  private def x2Brute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    cosineTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  private val x2BruteSql =
    """SELECT probe_id, rnk, neighbor_id, sim FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
      |    list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS sim,
      |    ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
      |      list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) DESC,
      |      c.vec_id) AS rnk
      |  FROM embeddings p JOIN embeddings c ON p.vec_id < 10 AND c.vec_id <> p.vec_id) t
      |WHERE rnk <= 5
      |ORDER BY probe_id, rnk""".stripMargin

  /** Declared ANN outputs are recall-vs-brute BOUND assertions (the
    * x4_approx_distinct pattern): the approximate result itself is
    * engine-specific (hyperplane seed / centroid sample), so the oracle
    * checks an engine-computed contract instead — recall against the
    * exact brute top-k (whose own correctness is oracled by
    * x2_cosine_topk) stays above the declared floor, and candidate
    * generation genuinely pruned the corpus. Every number in the row is
    * computed by the engine; a banding/assignment regression flips the
    * booleans. All inputs are single-row aggregates cross-joined — fully
    * lazy, no driver-side counts.
    *
    * Bounds leave ~25-40 % headroom under the measured values on the
    * fixture corpora (multi-probe LSH recall 0.66-0.72 across
    * sf0.001-0.1 — random gaussian vectors are LSH's worst case, and
    * multi-probing roughly doubled the single-probe 0.32-0.50; IVF
    * 0.92-1.0). */
  private[operators] def annBoundSummary(ann: DataFrame, brute: DataFrame,
      candidatePairs: DataFrame, emb: DataFrame, probes: DataFrame,
      k: Int, recallFloor: Double, maxCandidateFrac: Double): DataFrame = {
    val hits = ann.join(
        brute.select(col("probe_id"), col("neighbor_id")),
        Seq("probe_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
    val bruteN = brute.agg(count(lit(1)).as("n_brute"),
      countDistinct(col("probe_id")).as("n_probes"))
    val cand = candidatePairs.agg(count(lit(1)).as("n_cand"))
    val corpusN = emb.agg(count(lit(1)).as("n_corpus"))
    hits.crossJoin(bruteN).crossJoin(cand).crossJoin(corpusN)
      .select(
        col("n_probes"),
        lit(k).as("k"),
        (col("n_hits").cast(DoubleType) / col("n_brute") >= recallFloor)
          .as("recall_ok"),
        (col("n_cand").cast(DoubleType) /
          (col("n_probes") * (col("n_corpus") - 1)) <= maxCandidateFrac)
          .as("pruned_ok"))
  }

  private def x2Ann(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    annBoundSummary(
      annTopK(emb, probes, 64, 5),
      cosineTopK(emb, probes, 5),
      annCandidates(signatures(emb, 64), signatures(probes, 64)),
      emb, probes, k = 5, recallFloor = 0.5, maxCandidateFrac = 0.6)
  }

  private def x2Ivf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    // 1 Lloyd round + nprobe 5 (swept, BENCHNOTES "Round 3 vs round
    // 2", x2_ann_ivf): recall
    // 0.96/0.94/1.00 across sf0.001/0.01/0.1 vs 0.94/0.92/1.00 for the
    // raw sample at nprobe 4, so the declared floor rises 0.8 → 0.85.
    // More rounds HURT at fixed nprobe (tighter balanced lists spread a
    // probe's true neighbors over more lists than its centroid ranking
    // probes) — the fix is nprobe, not more Lloyd.
    val cents = kmeansCentroids(emb, 16, iters = 1)
    val cands = ivfProbeClusters(probes, cents, 5)
      .join(ivfAssignWith(emb, cents)
        .select(col("vec_id").as("neighbor_id"), col("cluster")), Seq("cluster"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id")).distinct()
    annBoundSummary(
      ivfTopKWith(emb, probes, cents, nprobe = 5, k = 5),
      cosineTopK(emb, probes, 5),
      cands, emb, probes, k = 5, recallFloor = 0.85, maxCandidateFrac = 0.6)
  }

  private val annBoundSql =
    """SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_probes,
      |  CAST(5 AS INTEGER) AS k,
      |  TRUE AS recall_ok,
      |  TRUE AS pruned_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** PRODUCTION-ONLY bench row for IVF ANN: [[ivfTopKWith]] alone — no
    * brute-force cosineTopK and no separate candidate-count join in the
    * plan, so the driver bench times exactly what a production query
    * costs (the [[x2Ivf]] verification row runs the O(n·probes) brute
    * baseline in-row by design, which buried the r4→r5 1.3→4.1 s
    * adjudication). complete_ok pins that every probe got EXACTLY k
    * results (nprobe 5 of nlist 16 gives each probe ~30 % of the
    * corpus as candidates — ≥ 150 vectors on every fixture, so a
    * shortfall means candidate generation broke, not data); sims_ok
    * pins the cosine range. Recall/pruning verification stays x2_ann_ivf's
    * job. */
  private def x2IvfProd(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val cents = kmeansCentroids(emb, 16, iters = 1)
    val ann = ivfTopKWith(emb, probes, cents, nprobe = 5, k = 5)
    val perProbe = ann.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("c"), min(col("sim")).as("mn"), max(col("sim")).as("mx"))
    perProbe.agg(
        count(lit(1)).as("n_done"),
        min(col("c")).as("minc"), max(col("c")).as("maxc"),
        min(col("mn")).as("gmn"), max(col("mx")).as("gmx"))
      .crossJoin(probes.agg(countDistinct(col("vec_id")).as("n_probes")))
      .select(col("n_probes"), lit(5).as("k"),
        (col("n_done") === col("n_probes") && col("minc") === 5 && col("maxc") === 5)
          .as("complete_ok"),
        (col("gmn") >= -1.0000001 && col("gmx") <= 1.0000001).as("sims_ok"))
  }

  private val x2IvfProdSql =
    """SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_probes,
      |  CAST(5 AS INTEGER) AS k,
      |  TRUE AS complete_ok,
      |  TRUE AS sims_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  // --------------------------------------------- embedding outlier score
  /** Per-label centroid distance — embedding-space quality filtering:
    * vectors far from their own label's centroid are mislabeled/noisy
    * candidates, the filter CLIP-style pipelines run before training.
    * The centroid is the per-dimension mean via the decimal-exact
    * distributed sum ([[graft.core.Num.dsum]] on the posexploded
    * values — vectors never shuffle whole, and the result is
    * order-independent so the oracle can reproduce it bit-for-bit);
    * the collect is bounded at nLabels × dim doubles (the IVF-centroid
    * argument) and GUARDED BY THE FETCH ITSELF: the aggregated
    * (label, pos) frame is fetched with `take(maxLabels × dim + 1)`, so
    * the driver never holds more than the declared bound plus one row,
    * and one extra row proves the cardinality exceeded `maxLabels` —
    * the operator then refuses to run rather than silently capping
    * (which would change which labels get scored). Same contract as
    * the documented 4096-list IVF cap, but with NO separate counting
    * scan: the r10 guard's up-front approx_count_distinct pass cost a
    * whole extra corpus scan (a 1.46× min regression at sf0.1, a full
    * wasted pass at 100 TB) to learn a number the bounded fetch learns
    * for free. Scoring is then map-only with broadcast centroids, and
    * the bottom-k rank partitions BY LABEL — parallel across labels,
    * no global sort. Assumes a fixed-dim corpus (dim read from the
    * first row — the same contract [[pqCodes]] trains under). */
  def labelOutliers(emb: DataFrame, k: Int = 5, maxLabels: Int = 65536): DataFrame = {
    val spark = emb.sparkSession
    val first = emb.select(size(col("embedding")).as("d")).limit(1).collect()
    if (first.isEmpty)
      return emb.select(col("label").cast(LongType).as("label"),
        col("vec_id"), lit(0.0).as("cos_centroid"),
        lit(0).as("rnk")).limit(0)
    val dim = first.head.getInt(0)
    val capRows = maxLabels.toLong * dim
    require(capRows + 1 <= Int.MaxValue,
      s"labelOutliers: maxLabels=$maxLabels x dim=$dim overflows the " +
        "driver fetch bound; lower maxLabels")
    val sums = emb
      .select(col("label").cast(LongType).as("label"),
        posexplode(transform(col("embedding"), x => x.cast(DoubleType)))
          .as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(graft.core.Num.dsum(col("v")).as("s"), count(lit(1)).as("n"))
      .take(capRows.toInt + 1)
    require(sums.length <= capRows,
      s"labelOutliers: more than maxLabels=$maxLabels distinct labels " +
        "(bounded centroid fetch overflowed) — the driver-side centroid " +
        "collect is nLabels x dim; for high-cardinality grouping use the " +
        "IVF/k-means path or raise maxLabels deliberately")
    val cents = sums.groupBy(_.getLong(0)).map { case (label, rs) =>
      val c = new Array[Double](dim)
      rs.foreach(r => c(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
      label -> (c, math.sqrt(Kernels.dotd(c, c)))
    }
    val bc = spark.sparkContext.broadcast(cents)
    val cosUdf = udf { (label: Long, v: Seq[Float]) =>
      val (c, nc) = bc.value(label)
      val d = Kernels.widen(v.toArray)
      Kernels.dotd(d, c) / (math.sqrt(Kernels.dotd(d, d)) * nc)
    }
    emb
      .select(col("label").cast(LongType).as("label"), col("vec_id"),
        cosUdf(col("label").cast(LongType), col("embedding")).as("cos_centroid"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("cos_centroid"), col("vec_id"))))
      .filter(col("rnk") <= k)
  }

  private def x2Outliers(spark: SparkSession, dir: String): DataFrame =
    labelOutliers(Tables.load(spark, dir, "embeddings"), 5)
      .orderBy(col("label"), col("rnk"))

  /** The same centroid (decimal-exact per-dim mean of the double-widened
    * floats), reassembled as a list ordered by position, then the same
    * left-to-right dot — bit-identical to the kernel path. */
  private val x2OutliersSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |    CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |d AS (
      |  SELECT label, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS val
      |  FROM e),
      |cd AS (
      |  SELECT label, pos,
      |    CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / COUNT(val) AS c
      |  FROM d GROUP BY label, pos),
      |cl AS (
      |  SELECT label, list(c ORDER BY pos) AS cv FROM cd GROUP BY label),
      |scored AS (
      |  SELECT e.label, e.vec_id,
      |    list_dot_product(e.v, cl.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cl.cv, cl.cv)))
      |      AS cos_centroid
      |  FROM e JOIN cl USING (label))
      |SELECT label, vec_id, cos_centroid, CAST(rnk AS INTEGER) AS rnk FROM (
      |  SELECT label, vec_id, cos_centroid,
      |    row_number() OVER (PARTITION BY label ORDER BY cos_centroid, vec_id) AS rnk
      |  FROM scored) r
      |WHERE rnk <= 5
      |ORDER BY label, rnk""".stripMargin

  private def x2Kmeans(spark: SparkSession, dir: String): DataFrame =
    kmeansAssign(Tables.load(spark, dir, "embeddings"), 8, 2)
      .orderBy(col("vec_id"))

  /** The oracle unrolls both Lloyd rounds: each round re-derives the
    * assignment with the identical cosine (double widen + sequential
    * dot, lowest-cid tiebreak) and the identical decimal-exact
    * per-dimension mean the kernel computes; empty clusters COALESCE to
    * the previous round's centroid exactly as the kernel keeps them. */
  private val x2KmeansSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c0 AS (
      |  SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
      |a0 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c0 c) t WHERE rn = 1),
      |s0 AS (
      |  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / COUNT(val) AS c
      |  FROM (SELECT a0.cid, generate_subscripts(e.v, 1) - 1 AS pos, unnest(e.v) AS val
      |        FROM e JOIN a0 USING (vec_id)) d
      |  GROUP BY cid, pos),
      |c1 AS (
      |  SELECT c0.cid, COALESCE(l.cv, c0.cv) AS cv
      |  FROM c0 LEFT JOIN (SELECT cid, list(c ORDER BY pos) AS cv FROM s0 GROUP BY cid) l
      |    USING (cid)),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.v, c.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |        c.cid) AS rn
      |    FROM e CROSS JOIN c1 c) t WHERE rn = 1),
      |s1 AS (
      |  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / COUNT(val) AS c
      |  FROM (SELECT a1.cid, generate_subscripts(e.v, 1) - 1 AS pos, unnest(e.v) AS val
      |        FROM e JOIN a1 USING (vec_id)) d
      |  GROUP BY cid, pos),
      |c2 AS (
      |  SELECT c1.cid, COALESCE(l.cv, c1.cv) AS cv
      |  FROM c1 LEFT JOIN (SELECT cid, list(c ORDER BY pos) AS cv FROM s1 GROUP BY cid) l
      |    USING (cid))
      |SELECT vec_id, cluster FROM (
      |  SELECT e.vec_id, c.cid AS cluster, row_number() OVER (PARTITION BY e.vec_id
      |    ORDER BY list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.cid) AS rn
      |  FROM e CROSS JOIN c2 c) t
      |WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** The DATA-MAP audit a training-corpus pipeline publishes (the
    * Nomic-Atlas / SemDeDup-report shape): per embedding-space cluster,
    * how much data sits there, how good it is, and what language
    * dominates — the table a curation owner reads to decide which
    * clusters to up/down-weight or drop. Composition of three verified
    * operators: [[kmeansAssign]] (bounded-collect Lloyd, broadcast
    * assignment), [[TextAnalysis.qualityScored]] (map-only), and two
    * cluster-bounded aggregates; the only data-sized exchange is the
    * doc-keyed join of the assignment to the documents slice. Dominant
    * language ties break lexicographically, so the row is deterministic
    * cross-engine. */
  private def x2ClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(spark, dir, "embeddings")
    val docs = Tables.load(spark, dir, "documents")
    val asg = kmeansAssign(emb, 8, 2)
      .select(col("vec_id").as("doc_id"), col("cluster"))
    val j = asg
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .join(TextAnalysis.qualityScored(docs)
        .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
    val per = j.groupBy(col("cluster")).agg(
      count(lit(1)).cast(IntegerType).as("n_docs"),
      // Num.sumE6 (VERDICT r18 #1, the xs_dsir_drift class): the hashed
      // carrier is an integer Σ round(quality·1e6) — order-independent
      // AND engine-format-proof (quality_score is rational arithmetic on
      // counts, so both engines quantize identical doubles identically);
      // mean_quality derives from it by the same IEEE division the
      // oracle writes.
      graft.core.Num.sumE6(col("quality_score")).as("sum_quality_e6"))
    val top = j.groupBy(col("cluster"), col("lang")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("c").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("lang").as("top_lang"), col("c").as("top_n"))
    per.join(top, Seq("cluster"))
      .select(col("cluster"), col("n_docs"), col("sum_quality_e6"),
        graft.core.Num.meanFromE6(col("sum_quality_e6"), col("n_docs"))
          .as("mean_quality"),
        col("top_lang"),
        (col("top_n").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("top_lang_frac"))
      .orderBy(col("cluster"))
  }

  private lazy val x2ClusterProfileSql =
    s"""WITH km AS (SELECT vec_id AS doc_id, cluster FROM ($x2KmeansSql) t),
       |q AS (${TextAnalysis.qualityScoreSql}),
       |j AS (
       |  SELECT km.cluster, d.lang, q.quality_score
       |  FROM km JOIN documents d USING (doc_id) JOIN q USING (doc_id)),
       |per AS (
       |  SELECT cluster, CAST(COUNT(*) AS INTEGER) AS n_docs,
       |    ${graft.core.Num.sqlSumE6("quality_score")} AS sum_quality_e6,
       |    ${graft.core.Num.sqlMeanFromE6(graft.core.Num.sqlSumE6("quality_score"), "COUNT(*)")} AS mean_quality
       |  FROM j GROUP BY cluster),
       |top AS (
       |  SELECT cluster, lang AS top_lang, c AS top_n FROM (
       |    SELECT cluster, lang, COUNT(*) AS c, row_number() OVER (
       |      PARTITION BY cluster ORDER BY COUNT(*) DESC, lang) AS rn
       |    FROM j GROUP BY cluster, lang) t WHERE rn = 1)
       |SELECT per.cluster, n_docs, sum_quality_e6, mean_quality, top_lang,
       |  CAST(top_n AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_lang_frac
       |FROM per JOIN top USING (cluster)
       |ORDER BY cluster""".stripMargin

  // ------------------------------------------------ product quantization
  /** Product-quantization codes (Jégou et al., PAMI 2011 — the FAISS
    * IVF-PQ compression layer): the vector splits into `m` subspaces,
    * each subspace trains its own k-codeword codebook (deterministic
    * k-means: seeds = the first k vectors by vec_id, `iters` Lloyd
    * rounds with decimal-exact means, empty codewords keep their
    * previous value), and every vector is encoded as its per-subspace
    * L2-argmin codeword index — m small integers replacing dim floats
    * (64 floats → 4 bytes here), THE memory story that lets a
    * 100 TB-scale ANN index serve queries from RAM-resident codes while
    * the raw vectors stay on disk. (This operator quantizes the RAW
    * vectors — the flat-PQ model; the IVF-composed paths
    * ([[ivfPqSearch]], [[IndexStore]]) quantize IVF RESIDUALS
    * `x − centroid(cluster(x))`, the canonical IVFADC refinement — see
    * [[ivfResiduals]].)
    *
    * Scale posture: codebook training is the bounded-collect kmeans
    * pattern per subspace (k × dim/m doubles each — the IVF centroid
    * argument); encoding is one map-only pass with all m codebooks in
    * a single broadcast. Determinism: distances compare as
    * (x·x − 2·x·c) + c·c, the identical expression the DuckDB oracle
    * states; ties take the lowest codeword index. The integer codes
    * match the oracle EXACTLY (argmin decisions are robust to the
    * ~1e-12 dot-product summation-order difference between the
    * sequential kernel and DuckDB's list_dot_product); the
    * reconstruction-error column agrees to ~1e-12 and hash-matches
    * under the driver's 4-dp rounding — err is the one column in this
    * file that is compare-rounded rather than bit-identical, and this
    * comment is the record of that known, measured difference.
    */
  def pqCodes(emb: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 1): DataFrame = {
    pqTrain(emb, m, k, iters) match {
      case None => // empty corpus: empty result with the declared schema
        emb.select(col("vec_id") +:
          (0 until m).map(s => lit(0).as(s"code_$s")) :+
          lit(0.0).as("err"): _*).limit(0)
      case Some((sub, books)) => pqEncode(emb, sub, books)
    }
  }

  /** Coarse quantizer for the residual-IVFADC paths ([[ivfPqSearch]],
    * [[IndexStore]]): k-means-refined centroids, not raw samples —
    * canonical IVFADC trains the coarse quantizer (FAISS
    * `IndexIVFPQ.train`), and with SAMPLED points as "centroids" the
    * residual `x − c(x)` has MORE energy than x itself on this
    * fixture's unit-norm vectors (measured E‖r‖² 1.51 vs 1.00 —
    * subtracting a cosine-near but not-mean point adds noise), which
    * inverts the entire point of residual encoding. One Lloyd round
    * over the SAME capped train slice PQ training uses (bounded:
    * [[PqTrainCap]] × dim work, never a corpus pass — at 100 TB the
    * coarse quantizer trains on a sample, exactly like the codebooks)
    * drops E‖r‖² to 0.90 and restores the canonical ordering
    * (BENCHNOTES r13 table). Deterministic and oracle-replayable: the
    * [[kmeansCentroids]] decimal-exact-mean idiom the `x2_kmeans` row
    * already value-checks. */
  private[operators] def coarseCentroids(emb: DataFrame, nlist: Int,
      iters: Int = CoarseIters): Array[(Long, Array[Double], Double)] =
    kmeansCentroids(emb.orderBy(col("vec_id")).limit(PqTrainCap), nlist, iters)

  /** Train the m per-subspace codebooks (see [[pqCodes]]); None on an
    * empty corpus. Returned shape: (subspace dim, books(s)(c) = codeword
    * vector).
    *
    * Training runs on the first [[PqTrainCap]] vectors by vec_id — the
    * standard PQ practice (FAISS trains codebooks on a subsample and
    * encodes everything): codebook quality needs a representative
    * sample, not the corpus, so Lloyd cost stays CONSTANT as the corpus
    * grows while encoding stays the one map-only pass. Deterministic
    * (first-n-by-id plans as TakeOrderedAndProject) and mirrored
    * verbatim in the DuckDB oracle; at the sf0.01 correctness point the
    * cap exceeds the corpus, so the oracle also certifies the uncapped
    * semantics. */
  private[operators] def pqTrain(emb: DataFrame, m: Int, k: Int,
      iters: Int): Option[(Int, Array[Array[Array[Double]]])] =
    pqTrainD(emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v")), m, k, iters)

  /** [[pqTrain]] over an already-double vector column `v` — the shared
    * trainer for the raw-vector path (floats widened on entry; widening
    * is exact, so the raw-path codebooks are bit-identical to the old
    * float-input kernel) and the IVF-RESIDUAL path ([[ivfResiduals]]
    * output, where the values are born double). */
  private[operators] def pqTrainD(dv: DataFrame, m: Int, k: Int,
      iters: Int): Option[(Int, Array[Array[Array[Double]]])] = {
    val spark = dv.sparkSession
    val first = dv.select(size(col("v")).as("d")).limit(1).collect()
    if (first.isEmpty) return None
    val dim = first.head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val train = dv.orderBy(col("vec_id")).limit(PqTrainCap)
      .select(col("vec_id"), col("v"))

    def subvec(s: Int) = slice(col("v"), s * sub + 1, sub)
    // seed codebook: first k vectors by vec_id, dense codeword ids 0..k-1
    def seeds(s: Int): Array[Array[Double]] =
      train.orderBy(col("vec_id")).limit(k).select(subvec(s)).collect()
        .map(_.getSeq[Double](0).toArray)

    def l2ArgminUdf(cb: Array[Array[Double]]) = {
      val bc = spark.sparkContext.broadcast(cb)
      udf { (v: Seq[Double]) =>
        val cs = bc.value
        var best = -1; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cs.length) {
          val cv = cs(c)
          var xx = 0.0; var xc = 0.0; var cc = 0.0
          var i = 0
          while (i < cv.length) {
            val x = v(i)
            xx += x * x; xc += x * cv(i); cc += cv(i) * cv(i); i += 1
          }
          val d2 = (xx - 2.0 * xc) + cc
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        best
      }
    }

    def lloyd(s: Int, cb: Array[Array[Double]]): Array[Array[Double]] = {
      val assigned = train.select(subvec(s).as("vs"),
        l2ArgminUdf(cb)(subvec(s)).as("code"))
      val rows = assigned
        .select(col("code"), posexplode(col("vs")).as(Seq("pos", "v")))
        .groupBy(col("code"), col("pos"))
        .agg(sum(col("v").cast(DecimalType(28, 10))).cast(DoubleType).as("sm"),
          count(lit(1)).as("n"))
        .collect()
      val next = cb.map(_.clone())
      rows.groupBy(_.getInt(0)).foreach { case (code, rs) =>
        val v = new Array[Double](sub)
        rs.foreach(r => v(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        next(code) = v
      }
      next
    }

    Some((sub, Array.tabulate(m) { s =>
      (0 until iters).foldLeft(seeds(s))((cb, _) => lloyd(s, cb))
    }))
  }

  /** Encode every vector against trained codebooks — one map-only pass,
    * all m codebooks in a single broadcast. `keep` carries extra input
    * columns (e.g. an IVF cluster id) through the encode so composing
    * operators never need a corpus-wide join to re-attach them. */
  private[operators] def pqEncode(emb: DataFrame, sub: Int,
      books: Array[Array[Array[Double]]], keep: Seq[String] = Nil): DataFrame =
    pqEncodeD(emb.select(col("vec_id") +: keep.map(col) :+
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"): _*),
      sub, books, keep)

  /** [[pqEncode]] over an already-double vector column `v` (shared with
    * the residual path, same exact-widening parity argument as
    * [[pqTrainD]]). */
  private[operators] def pqEncodeD(dv: DataFrame, sub: Int,
      books: Array[Array[Array[Double]]], keep: Seq[String] = Nil): DataFrame = {
    val spark = dv.sparkSession
    val m = books.length
    val bcAll = spark.sparkContext.broadcast(books)
    val encodeUdf = udf { (v: Seq[Double]) =>
      val bs = bcAll.value
      val codes = new Array[Int](bs.length)
      var err = 0.0
      var s = 0
      while (s < bs.length) {
        val cs = bs(s); val off = s * sub
        var best = -1; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cs.length) {
          val cv = cs(c)
          var xx = 0.0; var xc = 0.0; var cc = 0.0
          var i = 0
          while (i < cv.length) {
            val x = v(off + i)
            xx += x * x; xc += x * cv(i); cc += cv(i) * cv(i); i += 1
          }
          val d2 = (xx - 2.0 * xc) + cc
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        codes(s) = best; err += bestD; s += 1
      }
      (codes.toSeq, err)
    }
    dv
      .withColumn("_pq", encodeUdf(col("v")))
      .select((col("vec_id") +: keep.map(col)) ++
        (0 until m).map(s => col("_pq._1").getItem(s).as(s"code_$s")) :+
        col("_pq._2").as("err"): _*)
  }

  /** Cluster assignment + IVF residual in ONE map-only pass:
    * `(vec_id, cluster, v = x − centroid(cluster(x)))` with the residual
    * born DOUBLE (float widened exactly, centroid already double).
    * Quantizing residuals instead of raw vectors is THE accuracy
    * mechanism of canonical IVFADC (Jégou et al., PAMI 2011 §IV; FAISS
    * `IndexIVFPQ` default): subtracting the coarse centroid concentrates
    * the PQ codebooks' dynamic range on the within-cell displacement, so
    * the same m×k code budget spends itself on local structure instead
    * of re-describing the cell's position (measured on the fixture:
    * ADC-order tolerance recall 0.42 raw → see BENCHNOTES r13 table).
    * Assignment is IDENTICAL to [[ivfAssignWith]] (cosine argmax,
    * lowest-cid ties, centroids in ascending-cid order). */
  private[operators] def ivfResiduals(emb: DataFrame,
      cents: Array[(Long, Array[Double], Double)],
      keep: Seq[String] = Nil): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(cents)
    val residUdf = udf { (v: Seq[Float]) =>
      val cs = bc.value
      val d = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { d(i) = v(i); i += 1 }
      var nv = 0.0; i = 0
      while (i < d.length) { nv += d(i) * d(i); i += 1 }
      nv = math.sqrt(nv)
      var bestId = -1L; var bestIdx = -1; var best = Double.NegativeInfinity
      var c = 0
      while (c < cs.length) {
        val cv = cs(c)._2; val cn = cs(c)._3
        var dot = 0.0; var j = 0
        while (j < cv.length) { dot += d(j) * cv(j); j += 1 }
        val cos = dot / (nv * cn)
        if (cos > best) { best = cos; bestId = cs(c)._1; bestIdx = c }
        c += 1
      }
      if (bestIdx < 0 && nv == 0.0) {
        // every cosine NaN because the vector is a FINITE zero: fall
        // back to the lowest-cid centroid — the oracle's NaN tie-break
        // (row_number over (cos DESC, cid)) — instead of a cluster=-1
        // row no probe route can ever reach (a silently unservable
        // vector). The nv == 0.0 guard matters: an embedding with a
        // NaN/Inf COMPONENT also NaNs every cosine, but routing it
        // would poison downstream (NaN residual → code -1 → LUT index
        // crash at query time; NaN mean_err → unparseable stats row) —
        // non-finite garbage keeps the old quarantining cluster=-1 /
        // zero-residual row instead.
        bestIdx = 0; bestId = cs(0)._1
      }
      val rv = new Array[Double](d.length)
      if (bestIdx >= 0) {
        val cv2 = cs(bestIdx)._2
        i = 0
        while (i < d.length) { rv(i) = d(i) - cv2(i); i += 1 }
      }
      (bestId, rv.toSeq)
    }
    emb
      .withColumn("_ar", residUdf(col("embedding")))
      .select(col("vec_id") +: keep.map(col) :+
        col("_ar._1").as("cluster") :+ col("_ar._2").as("v"): _*)
  }

  private def x2PqCodes(spark: SparkSession, dir: String): DataFrame =
    pqCodes(Tables.load(spark, dir, "embeddings"), 4, 16, 1)
      .orderBy(col("vec_id"))

  /** PQ-ADC top-k search (the query-time half of [[pqCodes]]): each
    * probe precomputes an m × k distance LOOK-UP TABLE to every
    * codeword (driver-side — probes are query-sized — and broadcast),
    * and every corpus vector's approximate distance is m table lookups
    * summed over its CODES: the full vectors are never touched at query
    * time, which is why a PQ index serves queries from RAM at a scale
    * where raw vectors cannot. One map-only pass over the codes frame,
    * then a BOUNDED two-phase top-k ([[graft.functions.TopKMinAgg]]):
    * map-side partial aggregation reduces each task's rows to a ≤topK
    * buffer per probe, so the exchange carries partitions × probes ×
    * topK rows and the final merge is k-list merging — no per-probe
    * window over the corpus (the r10 verdict's one scale gap: with few
    * probes, a rank window shuffled ~the whole corpus to each of a
    * handful of reducers and sorted it there). Tie-break (adist ASC,
    * vec_id ASC) is identical to the window formulation, so the result
    * is row-for-row the same. */
  def pqSearch(emb: DataFrame, probes: DataFrame, m: Int = 4, k: Int = 16,
      iters: Int = 1, topK: Int = 5): DataFrame = {
    val (sub, books) = pqTrain(emb, m, k, iters).getOrElse(
      throw new IllegalArgumentException("pqSearch: empty corpus"))
    val codes = pqEncode(emb, sub, books)
      .withColumn("codes", array((0 until m).map(s => col(s"code_$s")): _*))
      .crossJoin(broadcast(probes.select(col("vec_id").as("probe_id"))))
    adcRank(codes, probes, books, sub, topK)
  }

  /** Shared ADC query-time tail: per-probe m × k distance LUTs built
    * driver-side (probes are query-sized) and broadcast, approximate
    * distance = m table lookups per candidate row, then the BOUNDED
    * top-k ([[graft.functions.TopKMinAgg]]). Input `cand` carries
    * (probe_id, vec_id, codes); everything downstream is map-only plus
    * a partitions × probes × topK exchange. */
  private[operators] def adcRank(cand: DataFrame, probes: DataFrame,
      books: Array[Array[Array[Double]]], sub: Int, topK: Int): DataFrame = {
    val spark = cand.sparkSession
    val m = books.length
    val k = books.head.length
    val probeRows = probes.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).collect()
    val lut: Map[Long, Array[Array[Double]]] = probeRows.map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      r.getLong(0) -> Array.tabulate(m) { s =>
        Array.tabulate(k) { c =>
          val cv = books(s)(c)
          var xx = 0.0; var xc = 0.0; var cc = 0.0
          var i = 0
          while (i < sub) {
            val x = v(s * sub + i)
            xx += x * x; xc += x * cv(i); cc += cv(i) * cv(i); i += 1
          }
          (xx - 2.0 * xc) + cc
        }
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(lut)
    val adistUdf = udf { (probe: Long, cs: Seq[Int]) =>
      val t = bc.value(probe)
      var d = 0.0; var s = 0
      while (s < cs.length) { d += t(s)(cs(s)); s += 1 }
      d
    }
    val topkAgg = udaf(new graft.functions.TopKMinAgg(topK))
    cand
      .withColumn("adist", adistUdf(col("probe_id"), col("codes")))
      .groupBy(col("probe_id"))
      .agg(topkAgg(col("adist"), col("vec_id")).as("top"))
      .select(col("probe_id"), col("top.key").as("ds"),
        posexplode(col("top.id")).as(Seq("pos", "vec_id")))
      .select(col("probe_id"), col("vec_id"),
        (col("pos") + 1).cast(IntegerType).as("rnk"),
        element_at(col("ds"), col("pos") + 1).as("adist"))
  }

  /** Probe routing computed DRIVER-SIDE once (probes are query-sized):
    * (probe_id, probe vector as doubles, its `nprobe` nearest cluster
    * ids by the [[ivfProbeClusters]] ordering — cosine desc, stable
    * ties → ascending cid). One collect; the result feeds BOTH the
    * broadcast (probe_id, cluster) candidate join and the per-(probe,
    * cluster) residual ADC LUTs, so the two can never disagree. */
  private[operators] def probeRoutes(probes: DataFrame,
      cents: Array[(Long, Array[Double], Double)],
      nprobe: Int): Array[(Long, Array[Double], Seq[Long])] =
    probes.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).collect().map { r =>
        val d = r.getSeq[Float](1).map(_.toDouble).toArray
        val nv = math.sqrt(d.map(x => x * x).sum)
        val cls = cents.map { case (cid, cv, cn) =>
          var dot = 0.0; var j = 0
          while (j < cv.length) { dot += d(j) * cv(j); j += 1 }
          (cid, dot / (nv * cn))
        }.sortBy(-_._2).take(nprobe).map(_._1).toSeq
        (r.getLong(0), d, cls)
      }

  /** Residual-ADC query tail (canonical IVFADC): the approximate
    * distance to candidate x in cluster c is
    * ‖(p − centroid(c)) − q(residual(x))‖², so the m × k LUT is built
    * per (probe, PROBED CLUSTER) against the probe's own residual —
    * probes × nprobe × m × k doubles, still driver-built and broadcast
    * (the [[adcRank]] bound times nprobe). `cand` carries (probe_id,
    * cluster, vec_id, codes); everything downstream is map-only plus
    * the partitions × probes × topK [[graft.functions.TopKMinAgg]]
    * exchange. */
  private[operators] def adcRankResidual(cand: DataFrame,
      routes: Array[(Long, Array[Double], Seq[Long])],
      cents: Array[(Long, Array[Double], Double)],
      books: Array[Array[Array[Double]]], sub: Int, topK: Int): DataFrame = {
    val spark = cand.sparkSession
    val m = books.length
    val k = books.head.length
    val centOf = cents.map(c => c._1 -> c._2).toMap
    val lut: Map[(Long, Long), Array[Array[Double]]] = routes.flatMap {
      case (pid, pv, cls) => cls.map { cid =>
        val cv = centOf(cid)
        val pr = new Array[Double](pv.length)
        var i = 0
        while (i < pv.length) { pr(i) = pv(i) - cv(i); i += 1 }
        (pid, cid) -> Array.tabulate(m) { s =>
          Array.tabulate(k) { c =>
            val w = books(s)(c)
            var xx = 0.0; var xc = 0.0; var cc = 0.0
            var j = 0
            while (j < sub) {
              val x = pr(s * sub + j)
              xx += x * x; xc += x * w(j); cc += w(j) * w(j); j += 1
            }
            (xx - 2.0 * xc) + cc
          }
        }
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(lut)
    val adistUdf = udf { (probe: Long, cluster: Long, cs: Seq[Int]) =>
      val t = bc.value((probe, cluster))
      var d = 0.0; var s = 0
      while (s < cs.length) { d += t(s)(cs(s)); s += 1 }
      d
    }
    val topkAgg = udaf(new graft.functions.TopKMinAgg(topK))
    cand
      .withColumn("adist", adistUdf(col("probe_id"), col("cluster"), col("codes")))
      .groupBy(col("probe_id"))
      .agg(topkAgg(col("adist"), col("vec_id")).as("top"))
      .select(col("probe_id"), col("top.key").as("ds"),
        posexplode(col("top.id")).as(Seq("pos", "vec_id")))
      .select(col("probe_id"), col("vec_id"),
        (col("pos") + 1).cast(IntegerType).as("rnk"),
        element_at(col("ds"), col("pos") + 1).as("adist"))
  }

  /** The broadcast (probe_id, cluster) candidate frame derived from
    * [[probeRoutes]] — driver-created, so the candidate join and the
    * residual LUTs share one routing decision. */
  private[operators] def routesDf(spark: SparkSession,
      routes: Array[(Long, Array[Double], Seq[Long])]): DataFrame = {
    import spark.implicits._
    routes.flatMap { case (pid, _, cls) => cls.map(cid => (pid, cid)) }
      .toSeq.toDF("probe_id", "cluster")
  }

  /** IVF-PQ search (Jégou et al.'s IVFADC, the FAISS production shape):
    * IVF list pruning composes IN FRONT of PQ-ADC scoring, so the ADC
    * pass — and the bounded top-k behind it — sees only the vectors in
    * each probe's `nprobe` nearest lists (~nprobe/nlist of the corpus),
    * never the full codes frame. [[pqSearch]] remains the prune-free
    * raw-vector ADC baseline; this is the production path where BOTH
    * the candidate set and the rank state are sublinear.
    *
    * Since r13 the PQ layer quantizes IVF RESIDUALS
    * `x − centroid(cluster(x))` ([[ivfResiduals]]), the canonical
    * IVFADC formulation: codebooks train on the residuals of the
    * capped training slice, every vector's codes describe its
    * within-cell displacement, and query-time ADC builds its LUT per
    * (probe, probed cluster) against the probe's own residual
    * ([[adcRankResidual]]).
    *
    * Dataflow: one map-only pass assigns cluster + residual together
    * ([[ivfResiduals]]) and a second map-only pass encodes (cluster
    * rides through [[pqEncodeD]]'s `keep` — no corpus-wide re-join);
    * probe routing is one driver-side collect feeding both the
    * broadcast candidate join and the LUTs. Deterministic end to end
    * (coarse centroids = [[coarseCentroids]]' seeded Lloyd rounds on
    * the capped train slice, cosine routing with lowest-cid ties, L2
    * ADC with lowest-vec_id ties), so the DuckDB oracle replays it
    * EXACTLY — unlike the recall-bound ANN rows, every (probe,
    * neighbor, rank, adist) tuple is value-checked. */
  def ivfPqSearch(emb: DataFrame, probes: DataFrame, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 4, k: Int = 16, iters: Int = 1,
      topK: Int = 5): DataFrame = {
    val cents = coarseCentroids(emb, nlist)
    val resid = ivfResiduals(emb, cents)
    val (sub, books) = pqTrainD(resid.select(col("vec_id"), col("v")), m, k, iters)
      .getOrElse(throw new IllegalArgumentException("ivfPqSearch: empty corpus"))
    val codes = pqEncodeD(resid, sub, books, keep = Seq("cluster"))
      .withColumn("codes", array((0 until m).map(s => col(s"code_$s")): _*))
    val routes = probeRoutes(probes, cents, nprobe)
    val pc = routesDf(emb.sparkSession, routes)
    adcRankResidual(codes.join(broadcast(pc), Seq("cluster")),
      routes, cents, books, sub, topK)
  }

  /** FILTERED ANN — the metadata-predicated vector search production
    * stores actually serve ("nearest neighbors WHERE label = …"):
    * metadata columns ride the CODES table (stored beside the codes at
    * build time — `keep` through the residual/encode path), so the
    * serve-time filter is MAP-ONLY on the candidate stream, evaluated
    * after the probe's cluster pruning and before ADC ranking — the
    * pre-filtering shape (FAISS `IDSelector`, the vector-DB "filtered
    * search" feature). Training (coarse centroids, residual codebooks)
    * always sees the FULL corpus: the index is built once, predicates
    * vary per query, and a filter must never change the geometry.
    * Identical to post-filtering an unbounded ADC ranking (the ADC
    * distance of a candidate is filter-independent) — spec-pinned —
    * but does none of the excluded candidates' LUT work. A highly
    * selective predicate can starve a probe below `topK` (fewer rows
    * come back, honestly) — the known pre-filter tradeoff; raise
    * `nprobe` when filters are narrow. */
  def ivfPqSearchFiltered(emb: DataFrame, probes: DataFrame,
      keepWhere: Column, meta: Seq[String], nlist: Int = 16,
      nprobe: Int = 4, m: Int = 4, k: Int = 16, iters: Int = 1,
      topK: Int = 5): DataFrame = {
    val cents = coarseCentroids(emb, nlist)
    val resid = ivfResiduals(emb, cents, keep = meta)
    val (sub, books) = pqTrainD(resid.select(col("vec_id"), col("v")), m, k, iters)
      .getOrElse(throw new IllegalArgumentException("ivfPqSearchFiltered: empty corpus"))
    val codes = pqEncodeD(resid, sub, books, keep = meta :+ "cluster")
      .filter(keepWhere) // map-only: metadata lives beside the codes
      .withColumn("codes", array((0 until m).map(s => col(s"code_$s")): _*))
    val routes = probeRoutes(probes, cents, nprobe)
    val pc = routesDf(emb.sparkSession, routes)
    adcRankResidual(codes.join(broadcast(pc), Seq("cluster")),
      routes, cents, books, sub, topK)
  }

  private def x2IvfPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    ivfPqSearchFiltered(emb, emb.filter(col("vec_id") < 10),
        col("label") === 3, Seq("label"), 16, 4, 4, 16, 1, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  private[operators] val x2IvfPqFilteredSql = ivfPqSearchSqlWith(
    serveWhere = "WHERE a.vec_id IN (SELECT vec_id FROM embeddings WHERE label = 3)")

  private def x2PqSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    pqSearch(emb, emb.filter(col("vec_id") < 10), 4, 16, 1, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  private def x2IvfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    ivfPqSearch(emb, emb.filter(col("vec_id") < 10), 16, 4, 4, 16, 1, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** IVF-PQ with exact re-ranking (FAISS `IndexRefineFlat`, the
    * standard accuracy recovery for coarse PQ): the ADC stage returns a
    * `shortK`-deep shortlist per probe (all the [[ivfPqSearch]]
    * sublinearity arguments apply), then ONLY the shortlist's full
    * vectors are fetched — the shortlist (probes × shortK ids) is
    * broadcast against the corpus, so the fetch is one scan with a
    * broadcast-hash semi-join, never a shuffle of the corpus — and
    * exact L2 re-ranks the top `topK`. Quantization error stops
    * affecting the final ORDER; it only affects which `shortK`
    * candidates are considered. The re-rank input is probes × shortK
    * rows (bounded), so its window is cheap by construction. Distances
    * use the same `dot(p,p) − 2·dot(p,c) + dot(c,c)` association as
    * the oracle's `list_dot_product` replay, so every (probe,
    * neighbor, rank, dist) tuple hash-matches bit-for-bit. */
  def ivfPqRefine(emb: DataFrame, probes: DataFrame, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 4, k: Int = 16, iters: Int = 1,
      shortK: Int = 20, topK: Int = 5): DataFrame =
    exactRerank(ivfPqSearch(emb, probes, nlist, nprobe, m, k, iters, shortK),
      emb, probes, topK)

  /** The exact re-rank tail shared by [[ivfPqRefine]] (composed) and
    * `x2_ivfpq_refined_persisted` (shortlist from the stored index):
    * `short` carries (probe_id, vec_id); only those vectors' embeddings
    * are fetched via a broadcast semi-join, exact L2 re-ranks top-k. */
  private[operators] def exactRerank(short: DataFrame, emb: DataFrame,
      probes: DataFrame, topK: Int): DataFrame = {
    val corpusV = emb.select(col("vec_id"), widened(emb, "embedding").as("nv"))
    val probeV = probes.select(col("vec_id").as("probe_id"),
      widened(probes, "embedding").as("pv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dist"), col("vec_id"))
    corpusV.join(broadcast(short.select(col("probe_id"), col("vec_id"))), Seq("vec_id"))
      .join(broadcast(probeV), Seq("probe_id"))
      .withColumn("dist",
        dot(col("pv"), col("pv")) - lit(2.0) * dot(col("pv"), col("nv"))
          + dot(col("nv"), col("nv")))
      .withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= topK)
      .select(col("probe_id"), col("vec_id"), col("rnk"), col("dist"))
  }

  private def x2IvfPqRefined(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    ivfPqRefine(emb, emb.filter(col("vec_id") < 10), 16, 4, 4, 16, 1, 20, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Oracle: the full IVFADC replay at `topK = shortK` as a derived
    * table, full vectors joined back for the shortlist only, exact-L2
    * re-rank — the `pqD2` association exactly. */
  private[operators] val x2IvfPqRefinedSql = {
    val (shortK, topK) = (20, 5)
    s"""WITH ev AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |short AS (
       |  SELECT probe_id, vec_id FROM (
       |${ivfPqSearchSqlWith(topK = shortK).linesIterator.map("    " + _).mkString("\n")}
       |  ) s),
       |scored AS (
       |  SELECT s.probe_id, s.vec_id,
       |    ${pqD2("p.v", "c.v")} AS dist
       |  FROM short s
       |  JOIN ev c ON c.vec_id = s.vec_id
       |  JOIN ev p ON p.vec_id = s.probe_id)
       |SELECT probe_id, vec_id, rnk, dist FROM (
       |  SELECT probe_id, vec_id, dist,
       |    CAST(row_number() OVER (
       |      PARTITION BY probe_id ORDER BY dist, vec_id) AS INTEGER) AS rnk
       |  FROM scored) t
       |WHERE rnk <= $topK
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** Shared oracle prefix: per-subspace seed → assign → decimal-mean →
    * re-assign CTEs (the x2_kmeans replay idiom, once per subspace, L2
    * instead of cosine, dense codeword ids). Produces CTEs `e`,
    * `e$s`/`c${s}_0`/`a${s}_0`/`s$s`/`c${s}_1`/`f$s` for each subspace. */
  private def pqD2(v: String, c: String) =
    s"(list_dot_product($v, $v) - 2.0e0 * list_dot_product($v, $c) + list_dot_product($c, $c))"

  /** The per-subspace train+encode CTE chain, reading vectors from CTE
    * `$src` (columns: vec_id, v DOUBLE[]) — `e` for the raw-vector PQ
    * rows, `rsd` for the residual IVFADC rows. */
  private def pqBlocksSql(m: Int, k: Int, sub: Int,
      trainWhere: String, src: String): String =
    (0 until m).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      s"""e$s AS (
         |  SELECT vec_id, v[$lo:$hi] AS vs FROM $src),
         |t$s AS (
         |  SELECT vec_id, vs FROM e$s $trainWhere ORDER BY vec_id LIMIT $PqTrainCap),
         |c${s}_0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vs AS cv
         |  FROM (SELECT vec_id, vs FROM t$s ORDER BY vec_id LIMIT $k)),
         |a${s}_0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${pqD2("e.vs", "c.cv")} ASC, c.cid) AS rn
         |    FROM t$s e CROSS JOIN c${s}_0 c) t WHERE rn = 1),
         |s$s AS (
         |  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / COUNT(val) AS c
         |  FROM (SELECT a.cid, generate_subscripts(e.vs, 1) - 1 AS pos, unnest(e.vs) AS val
         |        FROM t$s e JOIN a${s}_0 a USING (vec_id)) d
         |  GROUP BY cid, pos),
         |c${s}_1 AS (
         |  SELECT c0.cid, COALESCE(l.cv, c0.cv) AS cv
         |  FROM c${s}_0 c0 LEFT JOIN
         |    (SELECT cid, list(c ORDER BY pos) AS cv FROM s$s GROUP BY cid) l USING (cid)),
         |f$s AS (
         |  SELECT vec_id, cid AS code_$s, d2 AS err_$s FROM (
         |    SELECT e.vec_id, c.cid, ${pqD2("e.vs", "c.cv")} AS d2,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${pqD2("e.vs", "c.cv")} ASC, c.cid) AS rn
         |    FROM e$s e CROSS JOIN c${s}_1 c) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def pqCommonSql(m: Int, k: Int, sub: Int,
      trainWhere: String = ""): String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqBlocksSql(m, k, sub, trainWhere, "e")}""".stripMargin

  /** Shared residual-IVFADC oracle prefix: raw doubles `e`, the capped
    * train slice `tr`, coarse k-means `ic0→ka0→ks0→ic` (seeds = first
    * nlist of the train slice, [[CoarseIters]] Lloyd rounds with
    * decimal-exact means — the `x2_kmeans` replay idiom, see
    * [[coarseCentroids]]), cosine argmax assignment `asg` over the
    * WHOLE corpus against the refined `ic`, residual vectors
    * `rsd` (v − centroid, double-exact — the [[ivfResiduals]] replay),
    * then the per-subspace PQ train/encode blocks over `rsd` (training
    * capped to the trainWhere slice, encoding over everything — the
    * frozen-codebook append semantics fall out of the same CTEs).
    *
    * The multiply-referenced CTEs are `AS MATERIALIZED`: DuckDB 1.x
    * otherwise INLINES a CTE at every reference, and the residual chain
    * references `e`/`rsd` from each per-subspace block — with a
    * computed-vectors prefix (the hashvec rows' md5-per-token
    * `embeddings` CTE) the re-evaluation multiplied out to an
    * hour-plus, 60 GB-spill oracle. Materialized: sub-second. */
  /** The COARSE half of [[ivfResidualCommonSql]] — centroid training
    * (capped slice, 1 Lloyd round) + full-corpus assignment — split out
    * so exact-scoring-over-IVF-candidates oracles
    * ([[x2HardNegativesIvfSql]]) can reuse it without the PQ blocks. */
  private def ivfCoarseCommonSql(nlist: Int, trainWhere: String = ""): String = {
    def cos(v: String, c: String) =
      s"""(list_dot_product($v, $c) /
         |      (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c))))""".stripMargin
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |tr AS MATERIALIZED (
       |  SELECT vec_id, v FROM e $trainWhere ORDER BY vec_id LIMIT $PqTrainCap),
       |ic0 AS (
       |  SELECT vec_id AS cid, v AS cv FROM tr ORDER BY vec_id LIMIT $nlist),
       |ka0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT t.vec_id, c.cid, row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY ${cos("t.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM tr t CROSS JOIN ic0 c) q WHERE rn = 1),
       |ks0 AS (
       |  SELECT cid, pos, CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / COUNT(val) AS c
       |  FROM (SELECT a.cid, generate_subscripts(t.v, 1) - 1 AS pos, unnest(t.v) AS val
       |        FROM tr t JOIN ka0 a USING (vec_id)) d
       |  GROUP BY cid, pos),
       |ic AS MATERIALIZED (
       |  SELECT ic0.cid, COALESCE(l.cv, ic0.cv) AS cv
       |  FROM ic0 LEFT JOIN (SELECT cid, list(c ORDER BY pos) AS cv FROM ks0 GROUP BY cid) l
       |    USING (cid)),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cos("e.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN ic c) t WHERE rn = 1)""".stripMargin
  }

  private def ivfResidualCommonSql(m: Int, k: Int, sub: Int, nlist: Int,
      trainWhere: String = ""): String =
    s"""${ivfCoarseCommonSql(nlist, trainWhere)},
       |rsd AS MATERIALIZED (
       |  SELECT e.vec_id, a.cluster,
       |    list_transform(generate_series(1, len(e.v)), i -> e.v[i] - c.cv[i]) AS v
       |  FROM e JOIN asg a USING (vec_id) JOIN ic c ON c.cid = a.cluster),
       |${pqBlocksSql(m, k, sub, trainWhere, "rsd")}""".stripMargin

  private val x2PqCodesSql = {
    val (m, k, sub) = (4, 16, 16)
    val codeCols = (0 until m).map(s => s"CAST(code_$s AS INTEGER) AS code_$s").mkString(", ")
    val errSum = (0 until m).map(s => s"err_$s").mkString(" + ")
    val joins = (1 until m).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    s"""WITH ${pqCommonSql(m, k, sub)}
       |SELECT vec_id, $codeCols, $errSum AS err
       |FROM f0 $joins
       |ORDER BY vec_id""".stripMargin
  }

  private val x2PqSearchSql = {
    val (m, k, sub) = (4, 16, 16)
    val luts = (0 until m).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      s"""lut$s AS (
         |  SELECT p.probe_id, c.cid, ${pqD2(s"p.v[$lo:$hi]", "c.cv")} AS d
         |  FROM p CROSS JOIN c${s}_1 c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until m).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val lutJoins = (0 until m).map { s =>
      val pj = if (s == 0) "" else s" AND l$s.probe_id = l0.probe_id"
      s"JOIN lut$s l$s ON l$s.cid = codes.code_$s$pj"
    }.mkString("\n  ")
    val dSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    s"""WITH ${pqCommonSql(m, k, sub)},
       |codes AS (
       |  SELECT vec_id, ${(0 until m).map(s => s"code_$s").mkString(", ")}
       |  FROM f0 $codeJoins),
       |p AS (SELECT vec_id AS probe_id, v FROM e WHERE vec_id < 10),
       |$luts,
       |r AS (
       |  SELECT l0.probe_id, codes.vec_id, $dSum AS adist
       |  FROM codes
       |  $lutJoins)
       |SELECT probe_id, vec_id, rnk, adist FROM (
       |  SELECT probe_id, vec_id, adist,
       |    CAST(row_number() OVER (
       |      PARTITION BY probe_id ORDER BY adist, vec_id) AS INTEGER) AS rnk
       |  FROM r) t
       |WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** Exact residual-IVFADC replay: [[ivfResidualCommonSql]] in front
    * (centroids, assignment, residuals, residual codebooks/codes), then
    * `plists` (top-nprobe lists per probe), the probe's own residual per
    * probed cluster (`pres`), per-(probe, cluster) ADC LUTs against the
    * residual codebooks, and the scoring joined through the candidate
    * set — the [[adcRankResidual]] dataflow stated in SQL. */
  private[operators] val x2IvfPqSearchSql = ivfPqSearchSqlWith()

  /** [[x2IvfPqSearchSql]] parameterized on the TRAINING slice: `prefix`
    * prepends extra CTEs and `trainWhere` filters the rows the
    * codebooks/centroids are sampled from — the streaming-index oracle
    * (`xs_index_stream`) trains on the FIRST drop only, exactly as the
    * stream's batch-0 build does. `serveWhere` filters the CANDIDATE
    * set only (training and probe routing see the full corpus) — the
    * tombstone-delete oracle (`x2_ivfpq_deleted`): a deleted vector
    * stops being served without its historical contribution to
    * centroids/codebooks being rewritten, exactly the
    * [[IndexStore.deleteIvfPq]] semantics. Defaults reproduce the
    * batch oracle. */
  private[graft] def ivfPqSearchSqlWith(prefix: String = "",
      trainWhere: String = "", serveWhere: String = "", topK: Int = 5,
      nprobe: Int = 4): String = {
    val (m, k, sub) = (4, 16, 16)
    val nlist = 16
    def cos(v: String, c: String) =
      s"""(list_dot_product($v, $c) /
         |      (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c))))""".stripMargin
    val luts = (0 until m).map { s =>
      val (lo, hi) = (s * sub + 1, (s + 1) * sub)
      s"""lut$s AS (
         |  SELECT pr.probe_id, pr.cluster, c.cid, ${pqD2(s"pr.pv[$lo:$hi]", "c.cv")} AS d
         |  FROM pres pr CROSS JOIN c${s}_1 c)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until m).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    val lutJoins = (0 until m).map { s =>
      s"JOIN lut$s l$s ON l$s.cid = codes.code_$s AND l$s.probe_id = cand.probe_id AND l$s.cluster = cand.cluster"
    }.mkString("\n  ")
    val dSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    s"""WITH $prefix${ivfResidualCommonSql(m, k, sub, nlist, trainWhere)},
       |codes AS (
       |  SELECT vec_id, ${(0 until m).map(s => s"code_$s").mkString(", ")}
       |  FROM f0 $codeJoins),
       |p AS (SELECT vec_id AS probe_id, v FROM e WHERE vec_id < 10),
       |plists AS (
       |  SELECT probe_id, cluster FROM (
       |    SELECT p.probe_id, c.cid AS cluster, row_number() OVER (
       |      PARTITION BY p.probe_id
       |      ORDER BY ${cos("p.v", "c.cv")} DESC, c.cid) AS rn
       |    FROM p CROSS JOIN ic c) t WHERE rn <= $nprobe),
       |pres AS (
       |  SELECT pl.probe_id, pl.cluster,
       |    list_transform(generate_series(1, len(p.v)), i -> p.v[i] - c.cv[i]) AS pv
       |  FROM plists pl JOIN p USING (probe_id) JOIN ic c ON c.cid = pl.cluster),
       |cand AS (
       |  SELECT pl.probe_id, pl.cluster, a.vec_id
       |  FROM plists pl JOIN asg a USING (cluster) $serveWhere),
       |$luts,
       |r AS (
       |  SELECT cand.probe_id, cand.vec_id, $dSum AS adist
       |  FROM cand JOIN codes ON codes.vec_id = cand.vec_id
       |  $lutJoins)
       |SELECT probe_id, vec_id, rnk, adist FROM (
       |  SELECT probe_id, vec_id, adist,
       |    CAST(row_number() OVER (
       |      PARTITION BY probe_id ORDER BY adist, vec_id) AS INTEGER) AS rnk
       |  FROM r) t
       |WHERE rnk <= $topK
       |ORDER BY probe_id, rnk""".stripMargin
  }

  /** Oracle for the persisted drift-monitor artifact
    * (`x2_index_stats`, [[IndexStore]]): replay residual-PQ training on
    * the FIRST-HALF slice only (the build batch — centroids AND residual
    * codebooks both sample it), assign + encode the WHOLE corpus against
    * those frozen artifacts — exactly what build-then-append does — and
    * aggregate residual reconstruction error per batch. err is the one
    * compare-rounded column family (see [[pqCodes]]'s parity note);
    * n is exact. */
  private[operators] val x2IndexStatsSql = {
    val (m, k, sub) = (4, 16, 16)
    val nlist = 16
    val half = "(SELECT COUNT(*) // 2 FROM embeddings)"
    val errSum = (0 until m).map(s => s"err_$s").mkString(" + ")
    val joins = (1 until m).map(s => s"JOIN f$s USING (vec_id)").mkString(" ")
    s"""WITH ${ivfResidualCommonSql(m, k, sub, nlist, s"WHERE vec_id < $half")},
       |errs AS (
       |  SELECT vec_id, $errSum AS err
       |  FROM f0 $joins)
       |SELECT CAST(CASE WHEN vec_id < $half THEN 0 ELSE 1 END AS BIGINT) AS batch_id,
       |  COUNT(*) AS n, ${graft.core.Num.sqlSumE6("err")} AS sum_err_e6,
       |  ${graft.core.Num.sqlMeanFromE6(graft.core.Num.sqlSumE6("err"), "COUNT(*)")} AS mean_err,
       |  MAX(err) AS max_err
       |FROM errs GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val all: Seq[Declared] = Seq(
    Declared("x2_pq_codes", x2PqCodes, Some(x2PqCodesSql)),
    Declared("x2_pq_search", x2PqSearch, Some(x2PqSearchSql)),
    Declared("x2_ivfpq_search", x2IvfPqSearch, Some(x2IvfPqSearchSql)),
    Declared("x2_ivfpq_filtered", x2IvfPqFiltered, Some(x2IvfPqFilteredSql)),
    Declared("x2_ivfpq_refined", x2IvfPqRefined, Some(x2IvfPqRefinedSql)),
    Declared("x2_cosine_topk", x2Brute, Some(x2BruteSql)),
    Declared("x2_hard_negatives", x2HardNegatives, Some(x2HardNegativesSql)),
    Declared("x2_hard_negatives_ivf", x2HardNegativesIvf, Some(x2HardNegativesIvfSql)),
    Declared("x2_hard_negatives_sliced", x2HardNegativesSliced, Some(x2HardNegativesIvfSql)),
    Declared("x2_bitext_mine", x2BitextMine, Some(x2BitextMineSql)),
    Declared("x2_bitext_sliced", x2BitextSliced, Some(x2BitextMineSql)),
    Declared("x2_training_pairs", x2TrainingPairs, Some(x2TrainingPairsSql)),
    Declared("x2_training_pairs_ivf", x2TrainingPairsIvf, Some(x2TrainingPairsIvfSql)),
    Declared("x2_sq8_topk", x2Sq8TopK, Some(x2Sq8TopKSql)),
    Declared("x2_sq8_persisted", x2Sq8Persisted, Some(x2Sq8TopKSql)),
    Declared("x2_sq8_rerank", x2Sq8Rerank, Some(x2Sq8RerankSql)),
    Declared("x2_binary_topk", x2BinaryTopK, Some(x2BinaryTopKSql)),
    Declared("x2_binary_persisted", x2BinaryPersisted, Some(x2BinaryTopKSql)),
    Declared("x2_binary_rerank", x2BinaryRerank, Some(x2BinaryRerankSql)),
    Declared("x2_ann_lsh", x2Ann, Some(annBoundSql)),
    Declared("x2_ann_ivf", x2Ivf, Some(annBoundSql)),
    Declared("x2_ann_ivf_prod", x2IvfProd, Some(x2IvfProdSql)),
    Declared("x2_outlier_score", x2Outliers, Some(x2OutliersSql)),
    Declared("x2_kmeans", x2Kmeans, Some(x2KmeansSql)),
    Declared("x2_cluster_profile", x2ClusterProfile, Some(x2ClusterProfileSql)))
}
