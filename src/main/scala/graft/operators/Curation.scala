package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Corpus-curation operators for a large-scale training-data pipeline
  * (extension surface beyond SURVEY.md §2B): deterministic train/val/test
  * splitting, benchmark-contamination checks, within-document repetition
  * scoring, domain-mixture budgeting, and int8 embedding quantization.
  *
  * Scale posture, operator by operator:
  *  - hashSplit / repetition: map-only projections, zero shuffles;
  *  - contamination: the eval-set shingle dictionary is benchmark-sized
  *    (thousands of docs), so it broadcasts and the corpus never
  *    shuffles — one keyed aggregation after a broadcast hash join;
  *  - bloomDecontaminate: the same check when the dictionary does NOT
  *    broadcast — a Bloom filter gates the corpus map-side, the exact
  *    join runs only on the surviving sliver;
  *  - domainMix: one keyed aggregation to group totals (domain-count
  *    sized, i.e. tiny) plus a one-row broadcast scalar attach;
  *  - quantizeInt8: per-partition partial min/max reduced on the driver
  *    (#partitions × 2 × dim doubles — bounded like the IVF centroid
  *    collect), broadcast back into a map-only primitive kernel.
  */
/** Per-doc repetition metrics (public: Spark needs a visible encoder for
  * the UDF's struct return type). */
case class RepMetrics(
    n_words: Int,
    dup_word_frac: Double,
    dup_bigram_frac: Double,
    dup_trigram_frac: Double,
    mean_word_len: Double)

/** The full Gopher repetition suite (same public-for-encoder reason as
  * [[RepMetrics]]): top n-gram character fractions (n = 2..4) and
  * duplicate n-gram character fractions (n = 5..10). */
case class GopherRepMetrics(
    n_words: Int,
    top2_frac: Double, top3_frac: Double, top4_frac: Double,
    dup5_frac: Double, dup6_frac: Double, dup7_frac: Double,
    dup8_frac: Double, dup9_frac: Double, dup10_frac: Double)

object Curation {
  import Dedup.tokens

  // ------------------------------------------------- deterministic split
  /** md5-bucket and split label as pure column expressions of any id
    * column — shared by [[hashSplit]] and the operators that derive a
    * split from an id ALREADY on the row ([[splitLeakage]],
    * [[splitLeakfree]]) without a label-attach join. */
  private def md5Bucket(key: Column): Column =
    substring(md5(key.cast(StringType).cast(BinaryType)), 1, 2)
  private def splitOf(bucket: Column, trainHi: String, valHi: String): Column =
    when(bucket < trainHi, "train")
      .when(bucket < valHi, "val")
      .otherwise("test")
  /** The one place the default 80/10/10 boundaries live — the split
    * family ([[hashSplit]], [[splitLeakage]], [[splitLeakfree]]) share
    * them so an audit can never silently audit a different split than
    * the assignment used (review r17). */
  private[operators] final val SplitTrainHi = "cd"
  private[operators] final val SplitValHi = "e6"

  /** Train/val/test assignment from the first two hex chars of
    * md5(doc_id): lowercase hex sorts numerically, so `bucket < "cd"`
    * selects md5 buckets 0x00-0xcc = 205/256 ≈ 80 %, `< "e6"` the next
    * 25/256 ≈ 10 %, remainder test. md5 is bit-identical across engines
    * (JDK MessageDigest ≡ Spark md5() ≡ DuckDB md5()), so the split is
    * reproducible anywhere — the property that matters when train/eval
    * membership must never drift between pipeline runs. Map-only.
    */
  def hashSplit(docs: DataFrame, trainHi: String = SplitTrainHi,
      valHi: String = SplitValHi): DataFrame =
    docs
      .withColumn("bucket", md5Bucket(col("doc_id")))
      .withColumn("split", splitOf(col("bucket"), trainHi, valHi))

  private def xcSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  private val xcSplitSql =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 'cd' THEN 'train'
      |       WHEN bucket < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- leak-free split
  /** Cross-split near-dup leakage audit: how many near-duplicate pairs
    * straddle the [[hashSplit]] train/val/test boundary. A doc-keyed
    * hash split IGNORES the duplicate graph, so a test doc's near-twin
    * can sit in train — eval contamination that survives exact dedup.
    * This row measures it: near-dup pairs ([[Dedup.neardupMinhash]])
    * labeled with both endpoints' splits, counted per (split_a,
    * split_b) cell with `leaked = split_a <> split_b`. At 100 TB the
    * additional cost over pair mining itself is ZERO joins: the split
    * is a pure FUNCTION of the id (md5 prefix), so both labels are
    * computed in place on the pair row, and the aggregate is 9 rows
    * max. */
  def splitLeakage(docs: DataFrame, trainHi: String = SplitTrainHi,
      valHi: String = SplitValHi): DataFrame =
    Dedup.neardupMinhash(docs)
      .withColumn("split_a", splitOf(md5Bucket(col("doc_a")), trainHi, valHi))
      .withColumn("split_b", splitOf(md5Bucket(col("doc_b")), trainHi, valHi))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))

  private def xcSplitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakage(Tables.load(spark, dir, "documents"))
      .orderBy(col("split_a"), col("split_b"))

  /** Oracle: the exact O(n²) 5-gram Jaccard pair graph (the
    * x1_neardup_minhash truth) with both endpoints' md5 splits. */
  private val xcSplitLeakageSql =
    """WITH s AS (
      |  SELECT doc_id, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END sh
      |  FROM (SELECT doc_id,
      |          string_split(trim(lower(regexp_replace(text,'\s+',' ','g'))), ' ') w
      |        FROM documents)),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b
      |  ON a.doc_id < b.doc_id
      |   AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      |       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
      |sp AS (
      |  SELECT doc_id,
      |    CASE WHEN b < 'cd' THEN 'train' WHEN b < 'e6' THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b FROM documents))
      |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  split_a <> split_b AS leaked
      |FROM (SELECT sa.split AS split_a, sb.split AS split_b
      |      FROM p JOIN sp sa ON sa.doc_id = p.doc_a
      |             JOIN sp sb ON sb.doc_id = p.doc_b) t
      |GROUP BY split_a, split_b
      |ORDER BY split_a, split_b""".stripMargin

  /** Leak-FREE split: hash the near-dup COMPONENT, not the doc. Every
    * doc carries its [[Dedup.dedupClusters]] component label (singleton
    * docs label themselves), and the md5 split keys on `cluster_id` —
    * so a whole duplicate family lands in ONE split by construction and
    * cross-split near-dup leakage is structurally zero (the spec joins
    * the pair graph against this assignment and asserts the count).
    * This is the split discipline scaled pipelines actually need:
    * dedup-then-split still leaks (dedup keeps one PER CLUSTER, but
    * sub-threshold siblings survive); split-by-component cannot.
    * Scale: the component pass is the already-bounded pointer-jumping
    * CC; the split itself stays a map-only projection of the label. */
  def splitLeakfree(docs: DataFrame, trainHi: String = SplitTrainHi,
      valHi: String = SplitValHi): DataFrame =
    Dedup.dedupClusters(docs.select(col("doc_id"), col("text")),
        Dedup.neardupMinhash(docs))
      .withColumn("split", splitOf(md5Bucket(col("cluster_id")), trainHi, valHi))
      .select(col("doc_id"), col("cluster_id"), col("split"))

  private def xcSplitLeakfree(spark: SparkSession, dir: String): DataFrame =
    splitLeakfree(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Oracle: the recursive-CTE closure over the exact pair graph (the
    * x1_dedup_clusters truth) with the md5 split keyed on the
    * component's minimum doc_id. */
  private def xcSplitLeakfreeSql: String =
    """WITH RECURSIVE s AS (
      |  SELECT doc_id, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END sh
      |  FROM (SELECT doc_id,
      |          string_split(trim(lower(regexp_replace(text,'\s+',' ','g'))), ' ') w
      |        FROM documents)),
      |e0 AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
      |  ON a.doc_id < b.doc_id
      |   AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      |       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
      |cl AS (
      |  SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
      |  FROM reach GROUP BY id)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN b < 'cd' THEN 'train' WHEN b < 'e6' THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id, cluster_id,
      |        substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) AS b FROM cl) t
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- benchmark contamination
  /** Documents sharing ≥1 word 5-gram with the eval set, with the hit
    * count — the standard n-gram decontamination check before training.
    * The eval shingle dictionary is distinct'd and broadcast (benchmarks
    * are small; at 100 TB of *corpus* this stays a broadcast hash join
    * and the corpus side never shuffles until the per-doc count).
    * Shingling reuses [[Dedup.shingles]] so the oracle expression is
    * shared with the minhash pipeline.
    */
  /** Distinct word 5-gram strings of the normalized text (whole doc if
    * shorter) — the string twin of [[Dedup.wordShingleHashes]], as a
    * primitive loop: the column-expression shingler
    * (`transform`/`slice`/`concat_ws`) evaluates interpreted HOF lambdas
    * per shingle and was 5× slower over the corpus (BENCHNOTES.md #2). */
  private[operators] def wordShingleStrings(text: String): Array[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (toks.length < 5) Array(toks.mkString(" "))
    else {
      val hs = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - 5) {
        sb.setLength(0)
        var j = 0
        while (j < 5) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        hs.add(sb.toString)
        i += 1
      }
      hs.toArray(new Array[String](hs.size))
    }
  }

  private val shingleUdf = udf(wordShingleStrings _)

  def contamination(docs: DataFrame, evalDocs: DataFrame): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shingleUdf(col("text"))).as("g"))
      .distinct()
    docs
      .select(col("doc_id"), explode(shingleUdf(col("text"))).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      // the shingler is already per-doc distinct, so plain count = number
      // of distinct contaminated 5-grams in the doc
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  private def xcContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    contamination(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
      .orderBy(col("doc_id"))
  }

  private val xcContaminationSql =
    """WITH s AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END) AS g
      |  FROM (SELECT doc_id,
      |          string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') w
      |        FROM documents)),
      |e AS (SELECT DISTINCT g FROM s WHERE doc_id % 20 = 0)
      |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |FROM s JOIN e USING (g) WHERE s.doc_id % 20 <> 0
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // ----------------------------------------- bloom-gated decontamination
  /** [[contamination]] with a Bloom-filter gate in front of the exact
    * verification join — the formulation that survives eval sets too
    * large to broadcast as a string dictionary. The eval 5-gram set is
    * summarized into a Bloom filter (`DataFrameStatFunctions.bloomFilter`
    * builds it distributed and merges per-partition sketches on the
    * driver — ~1.2 bytes/key at 1 % fpp, vs tens of bytes/key for the
    * dictionary itself), the corpus's exploded shingles are gated
    * map-side by the broadcast bloom (no false negatives: every truly
    * contaminated gram passes), and only the surviving sliver — true
    * hits plus ~1 % false positives — reaches the exact shuffle join
    * that removes the FPs. Per-doc counts are therefore EXACT, same
    * semantics as [[contamination]]; only the plan differs: the big
    * side's shuffle volume collapses from every shingle of the corpus
    * to the contaminated fraction.
    */
  def bloomDecontaminate(docs: DataFrame, evalDocs: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    val evalGrams = evalDocs
      .select(explode(shingleUdf(col("text"))).as("g"))
      .distinct()
      .persist() // shared by the two eager actions: count + bloom build
    val n = evalGrams.count() // eval-set-sized action
    if (n == 0) {
      // empty eval set: contamination is empty by definition — and
      // stat.bloomFilter NPEs on zero rows (its merge sees a null sketch)
      evalGrams.unpersist()
      return docs.select(col("doc_id"), lit(0L).as("n_hits")).limit(0)
    }
    val bloom = evalGrams.stat.bloomFilter("g", n, fpp)
    // both eager uses (count, bloom build) are done — release the cache
    // now rather than pinning it for the session; the lazy verify join
    // below recomputes the benchmark-sized dictionary once when it runs
    evalGrams.unpersist()
    val bBloom = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bBloom.value.mightContainString(g))
    docs
      .select(col("doc_id"), explode(shingleUdf(col("text"))).as("g"))
      .filter(mightContain(col("g")))
      // exact verify WITHOUT broadcast: the surviving sliver shuffles
      // against the eval grams (both sides small now), proving no
      // dependence on the dictionary fitting in driver/executor memory
      .hint("shuffle_hash")
      .join(evalGrams, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Declared form — a DIFFERENT eval cut than xc_contamination
    * (doc_id % 10 vs % 20) so the two queries verify independent
    * results, not one result via two plans. */
  private def xcBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    bloomDecontaminate(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
      .orderBy(col("doc_id"))
  }

  private val xcBloomDecontaminateSql =
    """WITH s AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END) AS g
      |  FROM (SELECT doc_id,
      |          string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') w
      |        FROM documents)),
      |e AS (SELECT DISTINCT g FROM s WHERE doc_id % 10 = 0)
      |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      |FROM s JOIN e USING (g) WHERE s.doc_id % 10 <> 0
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------- repetition scoring
  /** Gopher-style within-document repetition signals: duplicate
    * word/bigram/trigram instance fractions plus mean word length; short
    * docs collapse to one whole-text gram (the oracle guard). All ratios
    * are exact-integer divisions evaluated in the same order as the
    * oracle SQL, so the doubles are bit-identical across engines.
    *
    * One fused kernel per doc (tokenize once, three hash-set distinct
    * counts) — the column-expression formulation (`transform`+`slice`
    * n-gram arrays + `array_distinct`) evaluates interpreted HOF lambdas
    * per gram and was 25× slower over the sf0.1 corpus. Map-only, no
    * shuffle either way.
    */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .withColumn("_rep", repUdf(col("text")))
      .withColumn("n_words", col("_rep.n_words"))
      .withColumn("dup_word_frac", col("_rep.dup_word_frac"))
      .withColumn("dup_bigram_frac", col("_rep.dup_bigram_frac"))
      .withColumn("dup_trigram_frac", col("_rep.dup_trigram_frac"))
      .withColumn("mean_word_len", col("_rep.mean_word_len"))
      .drop("_rep")

  /** (total, distinct) n-gram instance counts; n > token count → the
    * single whole-text gram. */
  private def gramCounts(toks: Array[String], n: Int): (Int, Int) =
    if (toks.length < n) (1, 1)
    else {
      val hs = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        hs.add(sb.toString)
        i += 1
      }
      (toks.length - n + 1, hs.size)
    }

  private val repUdf = udf { (text: String) =>
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val n = toks.length
    val words = new java.util.HashSet[String]()
    var sumLen = 0L
    var i = 0
    while (i < n) {
      words.add(toks(i))
      // codepoint length, matching the oracle's codepoint-based length()
      sumLen += toks(i).codePointCount(0, toks(i).length)
      i += 1
    }
    val (t2, d2) = gramCounts(toks, 2)
    val (t3, d3) = gramCounts(toks, 3)
    RepMetrics(n,
      (n - words.size).toDouble / n.toDouble,
      (t2 - d2).toDouble / t2.toDouble,
      (t3 - d3).toDouble / t3.toDouble,
      sumLen.toDouble / n.toDouble)
  }

  private def xcRepetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        col("dup_bigram_frac"), col("dup_trigram_frac"), col("mean_word_len"))
      .orderBy(col("doc_id"))

  private val xcRepetitionSql =
    """SELECT doc_id,
      |  CAST(len(w) AS INTEGER) AS n_words,
      |  (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE) AS dup_word_frac,
      |  (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE) AS dup_bigram_frac,
      |  (len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE) AS dup_trigram_frac,
      |  length(array_to_string(w, '')) / CAST(len(w) AS DOUBLE) AS mean_word_len
      |FROM (
      |  SELECT doc_id, w,
      |    CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
      |      ELSE [array_to_string(w[i+1:i+2], ' ') for i in range(len(w)-1)] END g2,
      |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |      ELSE [array_to_string(w[i+1:i+3], ' ') for i in range(len(w)-2)] END g3
      |  FROM (SELECT doc_id,
      |          string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') w
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** The FULL Gopher repetition-filter suite (Rae et al. 2021, Table A1)
    * beyond [[repetition]]'s word/bigram/trigram fractions: per doc,
    * the TOP n-gram character fraction for n = 2..4 (characters covered
    * by the single most frequent n-gram — boilerplate headers repeat
    * one phrase) and the DUPLICATE n-gram character fraction for
    * n = 5..10 (characters covered by every occurrence of any repeated
    * n-gram — templated spam repeats many). Character weight of an
    * n-gram = the sum of its words' lengths (spaces excluded), totals
    * likewise; coverage is occurrence-weighted (overlapping occurrences
    * each count — the RedPajama-v2 quality-signal convention, declared
    * here rather than the paper's unspecified masking). All counts are
    * integers and the single division is of identical integers in both
    * engines, so the fractions are bit-identical; top-gram ties break
    * to the UTF-8-lexicographically-first gram (= DuckDB's binary
    * VARCHAR order). Map-only fused kernel, one pass per n over each
    * doc — the [[repetition]] scale posture. */
  private[operators] val gopherRepUdf = udf { (text: String) => gopherRepKernel(text) }

  def gopherRepetition(docs: DataFrame): DataFrame = {
    val k = gopherRepUdf
    docs.select(col("doc_id"), k(col("text")).as("m"))
      .select(col("doc_id") +: (GopherRepCols.map(c => col(s"m.$c").as(c))): _*)
  }

  private val GopherRepCols: Seq[String] =
    "n_words" +: ((2 to 4).map(n => s"top${n}_frac") ++
      (5 to 10).map(n => s"dup${n}_frac"))

  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Character counts are CODE POINTS (DuckDB's `length()` semantics —
    * the repUdf precedent): `String.length` would count a
    * supplementary-plane char as 2 and diverge from the oracle. */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  private def gopherRepKernel(text: String): GopherRepMetrics = {
    val s = text.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT).trim
    val w = s.split(" ")
    var total = 0L
    var ti = 0
    while (ti < w.length) { total += cpLen(w(ti)); ti += 1 }
    val out = new Array[Double](9)
    val sb = new java.lang.StringBuilder(64)
    var n = 2
    while (n <= 10) {
      val idx = n - 2
      if (total > 0 && w.length >= n) {
        val counts = new java.util.HashMap[String, Integer]()
        var i = 0
        while (i <= w.length - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(w(i + j)); j += 1
          }
          counts.merge(sb.toString, 1, (x, y) => Integer.valueOf(x + y))
          i += 1
        }
        if (n <= 4) {
          var bestG: String = null; var bestC = 0
          counts.forEach { (g, c) =>
            if (c > bestC || (c == bestC && utf8Lt(g, bestG))) { bestG = g; bestC = c }
          }
          out(idx) = bestC.toDouble * (cpLen(bestG) - (n - 1)) / total
        } else {
          var cov = 0L
          counts.forEach { (g, c) =>
            if (c > 1) cov += c.toLong * (cpLen(g) - (n - 1))
          }
          out(idx) = cov.toDouble / total
        }
      }
      n += 1
    }
    GopherRepMetrics(w.length, out(0), out(1), out(2), out(3), out(4),
      out(5), out(6), out(7), out(8))
  }

  private def xcGopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetition(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Replays the kernel per n: the same space-joined grams, integer
    * counts, char lengths (`length(g) − (n−1)` — words carry no
    * spaces), and the binary-collation tiebreak. */
  private val xcGopherRepetitionSql = {
    def gram(n: Int) =
      s"CASE WHEN len(w) >= $n THEN [array_to_string(w[i+1:i+$n], ' ') for i in range(len(w)-${n - 1})] ELSE [] END"
    val gctes = (2 to 10).map { n =>
      s"""g$n AS (
         |  SELECT doc_id, g, COUNT(*) AS cnt, length(g) - ${n - 1} AS cl
         |  FROM (SELECT doc_id, unnest(${gram(n)}) AS g FROM toks)
         |  GROUP BY doc_id, g)""".stripMargin
    }
    val tops = (2 to 4).map { n =>
      s"""t$n AS (
         |  SELECT doc_id, cnt * cl AS cov FROM (
         |    SELECT doc_id, cnt, cl, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
         |    FROM g$n) z WHERE rn = 1)""".stripMargin
    }
    val dups = (5 to 10).map { n =>
      s"""d$n AS (
         |  SELECT doc_id, SUM(CASE WHEN cnt > 1 THEN cnt * cl ELSE 0 END) AS cov
         |  FROM g$n GROUP BY doc_id)""".stripMargin
    }
    val joins = ((2 to 4).map(n => s"LEFT JOIN t$n USING (doc_id)") ++
      (5 to 10).map(n => s"LEFT JOIN d$n USING (doc_id)")).mkString("\n")
    def frac(src: String, alias: String) =
      s"CASE WHEN total = 0 THEN 0.0 ELSE CAST(COALESCE($src.cov, 0) AS DOUBLE) / total END AS $alias"
    val cols = ((2 to 4).map(n => frac(s"t$n", s"top${n}_frac")) ++
      (5 to 10).map(n => frac(s"d$n", s"dup${n}_frac"))).mkString(",\n  ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    string_split(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM documents),
       |tot AS (
       |  SELECT doc_id, len(w) AS nw, length(array_to_string(w, '')) AS total
       |  FROM toks),
       |${(gctes ++ tops ++ dups).mkString(",\n")}
       |SELECT doc_id, CAST(nw AS INTEGER) AS n_words,
       |  $cols
       |FROM tot
       |$joins
       |ORDER BY doc_id""".stripMargin
  }

  /** The PRODUCTION quality-signal table: every SQL-replayable per-doc
    * signal this library computes — repetition fractions, the full
    * Gopher n-gram suite, quality ratios/score, the Gopher rule flags —
    * in ONE corpus scan (a single Project over the documents read: two
    * fused kernels + the shared column builders; no join, no shuffle,
    * PlanSpec-pinned). This is how real pipelines run quality signals
    * at 100 TB: compute everything once while the bytes are hot, store
    * the table, let every later filter be a cheap column predicate
    * instead of a re-scan (the RedPajama-v2 quality-signals layout). */
  def signalTable(docs: DataFrame): DataFrame = {
    val quality = TextAnalysis.qualityCols.filterNot(_._1 == "n_words")
    val rules = gopherRuleCols.filterNot(c => c._1 == "n_words" || c._1 == "mean_wlen")
    val grepCols = GopherRepCols.filterNot(_ == "n_words")
    docs
      .withColumn("_r", repUdf(col("text")))
      .withColumn("_g", gopherRepUdf(col("text")))
      .select(Seq(col("doc_id"),
        col("_r.n_words").as("n_words"),
        col("_r.mean_word_len").as("mean_word_len"),
        col("_r.dup_word_frac").as("dup_word_frac"),
        col("_r.dup_bigram_frac").as("dup_bigram_frac"),
        col("_r.dup_trigram_frac").as("dup_trigram_frac")) ++
        grepCols.map(c => col(s"_g.$c").as(c)) ++
        quality.map { case (n, c) => c.as(n) } ++
        rules.map { case (n, c) => c.as(n) }: _*)
  }

  private def xcSignalTable(spark: SparkSession, dir: String): DataFrame =
    signalTable(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  /** The composed oracle joins the four already-verified per-signal
    * replays on doc_id — the SQL side may join freely; the contract
    * under test is that the SPARK side computes identical values in
    * one scan. (lazy: references TextAnalysis during init — the
    * r16 init-cycle discipline.) */
  /** Strip a component oracle's TRAILING output sort only — a global
    * substring replace would also delete `ORDER BY doc_id` inside any
    * window/subquery a component later grows (review r16). */
  private def unordered(sql: String): String = {
    val t = sql.trim
    require(t.endsWith("ORDER BY doc_id"),
      "signal-table component oracle must end with its output sort")
    t.stripSuffix("ORDER BY doc_id").trim
  }

  private[graft] lazy val xcSignalTableSql =
    s"""WITH rep AS (${unordered(xcRepetitionSql)}),
       |grep AS (${unordered(xcGopherRepetitionSql)}),
       |q AS (${unordered(TextAnalysis.xtQualitySql)}),
       |rules AS (${unordered(xcGopherRulesSql)})
       |SELECT rep.doc_id, rep.n_words, rep.mean_word_len,
       |  rep.dup_word_frac, rep.dup_bigram_frac, rep.dup_trigram_frac,
       |  grep.top2_frac, grep.top3_frac, grep.top4_frac,
       |  grep.dup5_frac, grep.dup6_frac, grep.dup7_frac,
       |  grep.dup8_frac, grep.dup9_frac, grep.dup10_frac,
       |  q.punct_ratio, q.digit_ratio, q.stopword_ratio, q.quality_score,
       |  rules.symbol_ratio, rules.alpha_frac, rules.stop_hits,
       |  rules.ok_words, rules.ok_mean_len, rules.ok_symbols,
       |  rules.ok_alpha, rules.ok_stops, rules.keep
       |FROM rep
       |JOIN grep USING (doc_id)
       |JOIN q USING (doc_id)
       |JOIN rules USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- domain mixture
  /** Budget-capped uniform domain mix: each (lang, source) domain gets an
    * equal share of a token budget (`total DIV budgetDen`), capped at
    * what the domain actually has; `weight_ppm` is the per-domain
    * sampling rate in parts-per-million. All-integer arithmetic (DIV,
    * LEAST) so both engines agree exactly. One keyed aggregation to
    * domain totals (domain-count rows — tiny at any corpus size), then a
    * one-row broadcast scalar attach for the global budget.
    */
  def domainMix(docs: DataFrame, budgetDen: Int = 2): DataFrame =
    domainMixFromCounts(
      docs.groupBy(col("lang"), col("source"))
        .agg(sum(size(tokens(col("text")))).as("group_tokens")),
      budgetDen)

  /** The budgeting arithmetic over already-aggregated (lang, source,
    * group_tokens) rows — lets callers that have a token count per doc
    * (e.g. [[curateFull]]'s repetition metrics) skip re-tokenizing the
    * corpus. */
  private def domainMixFromCounts(g: DataFrame, budgetDen: Int): DataFrame = {
    val t = g.agg(sum(col("group_tokens")).as("total_tokens"),
      count(lit(1)).as("n_groups"))
    g.crossJoin(broadcast(t))
      .withColumn("target_tokens", expr(s"(total_tokens DIV $budgetDen) DIV n_groups"))
      .withColumn("sampled_tokens", least(col("group_tokens"), col("target_tokens")))
      .withColumn("weight_ppm", expr("(sampled_tokens * 1000000) DIV group_tokens"))
      .select(col("lang"), col("source"), col("group_tokens"),
        col("target_tokens"), col("sampled_tokens"), col("weight_ppm"))
  }

  /** Temperature-based language re-balancing — the α-sampling recipe
    * multilingual pre-training corpora use (Conneau & Lample, NeurIPS
    * 2019 §3.1; XLM-R; mC4): sample language l with probability
    * q_l ∝ p_l^α instead of its natural share p_l, so low-resource
    * languages are up-weighted without flattening to uniform (α = 1 is
    * natural, α → 0 uniform; 0.3 is the mC4 setting). `boost` = q/p is
    * the per-language sampling-rate multiplier a sampler applies —
    * [[sampleByWeight]]'s threshold column is exactly where it plugs
    * in, and > 1 means up-sampling via [[upsample]]'s repeat semantics.
    * Plan shape: one groupBy to |langs| rows, two single-row aggregates
    * cross-joined back — nothing corpus-sized past the first agg, no
    * collect, the [[domainMix]] posture. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("_tot"))
    val withP = counts.crossJoin(tot)
      .withColumn("p", col("n_docs").cast("double") / col("_tot"))
    val z = withP.agg(sum(pow(col("p"), alpha)).as("_z"))
    withP.crossJoin(z)
      .select(col("lang"), col("n_docs"), col("p"),
        (pow(col("p"), alpha) / col("_z")).as("q"))
      .withColumn("boost", col("q") / col("p"))
      .orderBy(col("lang"))
  }

  /** Token-budget EPOCH PLAN — the planning artifact that turns the
    * temperature mix into a runnable schedule: given a training budget
    * of `budgetMultiple` × the corpus's total tokens, each language's
    * token target is budget × q_l (its α-sampled share, the
    * [[temperatureMix]] arithmetic inlined), `epochs` = target / owned
    * tokens, and languages whose up-weighting would repeat data past
    * `maxEpochs` are FLAGGED (`capped`, with `effective_tokens` the
    * cap-clipped grant). The report surfaces the conflict — which
    * low-resource languages the mixture over-asks — rather than
    * silently renormalizing; redistribution is a policy decision, not
    * an operator default (the Gopher/LLaMA data-mix planning shape).
    *
    * Scale: ONE corpus scan (a single groupBy(lang) carrying doc and
    * token counts), then |langs|-row arithmetic with two 1-row
    * broadcast attaches — the [[temperatureMix]] posture with the
    * token dimension fused into the same pass. The budget is RELATIVE
    * (× total tokens) so the plan is meaningful at any corpus size;
    * fixed-token budgets are one `lit` away. */
  def tokenBudget(docs: DataFrame, budgetMultiple: Double = 2.5,
      maxEpochs: Int = 3, alpha: Double = 0.3): DataFrame = {
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).as("n_tokens"))
    val tot = counts.agg(sum(col("n_docs")).as("_tot"),
      sum(col("n_tokens")).as("_tot_tokens"))
    val withP = counts.crossJoin(broadcast(tot))
      .withColumn("p", col("n_docs").cast(DoubleType) / col("_tot"))
    val z = withP.agg(sum(pow(col("p"), alpha)).as("_z"))
    withP.crossJoin(broadcast(z))
      .withColumn("q", pow(col("p"), alpha) / col("_z"))
      .withColumn("target_tokens",
        floor(col("_tot_tokens") * lit(budgetMultiple) * col("q")).cast(LongType))
      .withColumn("epochs",
        col("target_tokens").cast(DoubleType) / col("n_tokens"))
      .withColumn("capped", col("epochs") > lit(maxEpochs.toDouble))
      .withColumn("effective_tokens",
        least(col("target_tokens"), col("n_tokens") * maxEpochs))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("q"),
        col("target_tokens"), col("epochs"), col("capped"),
        col("effective_tokens"))
  }

  private def xcTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudget(Tables.load(spark, dir, "documents"))
      .orderBy(col("lang"))

  /** Oracle: the temperature arithmetic inlined over one grouped scan,
    * every division written in the Spark evaluation order. */
  private val xcTokenBudgetSql =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang),
      |t AS (SELECT SUM(n_docs) AS tot, SUM(n_tokens) AS tot_tokens FROM c),
      |pp AS (SELECT lang, n_docs, n_tokens, tot_tokens,
      |         CAST(n_docs AS DOUBLE) / tot AS p FROM c, t),
      |z AS (SELECT SUM(pow(p, 0.3)) AS z FROM pp),
      |plan AS (
      |  SELECT lang, n_docs, n_tokens,
      |    pow(p, 0.3) / z AS q,
      |    CAST(floor(tot_tokens * 2.5e0 * (pow(p, 0.3) / z)) AS BIGINT) AS target_tokens
      |  FROM pp, z)
      |SELECT lang, n_docs, n_tokens, q, target_tokens,
      |  CAST(target_tokens AS DOUBLE) / n_tokens AS epochs,
      |  CAST(target_tokens AS DOUBLE) / n_tokens > 3.0e0 AS capped,
      |  LEAST(target_tokens, n_tokens * 3) AS effective_tokens
      |FROM plan ORDER BY lang""".stripMargin

  private def xcDomainMix(spark: SparkSession, dir: String): DataFrame =
    domainMix(Tables.load(spark, dir, "documents"))
      .orderBy(col("lang"), col("source"))

  private def xcTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.load(spark, dir, "documents"))

  private val xcTemperatureMixSql =
    """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |t AS (SELECT SUM(n_docs) AS tot FROM c),
      |pp AS (SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / tot AS p FROM c, t),
      |z AS (SELECT SUM(pow(p, 0.3)) AS z FROM pp)
      |SELECT lang, n_docs, p, pow(p, 0.3) / z AS q, (pow(p, 0.3) / z) / p AS boost
      |FROM pp, z ORDER BY lang""".stripMargin

  private val xcDomainMixSql =
    """WITH g AS (
      |  SELECT lang, source,
      |    CAST(SUM(len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS group_tokens
      |  FROM documents GROUP BY lang, source),
      |t AS (SELECT CAST(SUM(group_tokens) AS BIGINT) AS total_tokens,
      |             CAST(COUNT(*) AS BIGINT) AS n_groups FROM g)
      |SELECT lang, source, group_tokens,
      |  (t.total_tokens // 2) // t.n_groups AS target_tokens,
      |  LEAST(group_tokens, (t.total_tokens // 2) // t.n_groups) AS sampled_tokens,
      |  (LEAST(group_tokens, (t.total_tokens // 2) // t.n_groups) * 1000000) // group_tokens AS weight_ppm
      |FROM g CROSS JOIN t
      |ORDER BY lang, source""".stripMargin

  // --------------------------------------------- weight-applied sampling
  /** Apply per-domain sampling weights (parts-per-million, e.g. from
    * [[domainMix]]) as a DETERMINISTIC hash-threshold sampler: doc kept
    * iff uniform(doc_id) < weight_ppm of its (lang, source) domain,
    * where uniform is the first 6 hex chars of a salted md5 mod 10⁶.
    * Every engine replays the identical keep/drop decision per doc —
    * the same must-not-drift property as [[hashSplit]], and the reason
    * this is not `df.sample()` (whose output depends on partitioning
    * and seed plumbing). The salt keeps the sampler independent of
    * hashSplit's bucket (chars 1-2 of the UNsalted digest): without it,
    * low weights would systematically drop whole split ranges. Weights
    * are domain-count-sized → broadcast; the pass is map-only on top.
    * The ~1.6 % modulo bias of 16⁶ mod 10⁶ is identical in both
    * engines and immaterial for budgeting. */
  /** The shared deterministic uniform: first 6 hex chars of the salted
    * md5 of doc_id, mod 10⁶. ONE definition for the sampler and the
    * upsampler — their keep/copy decisions must stay bit-identical
    * (weight ≤ 10⁶ upsampling degrades to exactly the sampler). */
  private def saltedUniformPpm: Column =
    conv(substring(
        md5(concat(lit("sample:"), col("doc_id").cast(StringType)).cast(BinaryType)),
        1, 6), 16, 10)
      .cast(LongType) % 1000000

  /** SQL twin of [[saltedUniformPpm]] (DuckDB has no hex→int cast wide
    * enough, so the six nibbles are place-value summed via strpos). */
  private def saltedUniformPpmSql: String =
    (0 until 6).map { i =>
      val pv = math.pow(16, 5 - i).toLong
      s"(strpos('0123456789abcdef', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), ${i + 1}, 1)) - 1) * $pv"
    }.mkString("(", "\n   + ", ") % 1000000")

  def sampleByWeight(docs: DataFrame, weights: DataFrame): DataFrame = {
    val u = saltedUniformPpm
    docs.join(broadcast(weights), Seq("lang", "source"))
      .withColumn("u_ppm", u)
      .filter(col("u_ppm") < col("weight_ppm"))
  }

  private def xcSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    sampleByWeight(docs,
        domainMix(docs).select(col("lang"), col("source"), col("weight_ppm")))
      .select(col("doc_id"), col("lang"), col("source"),
        col("weight_ppm"), col("u_ppm"))
      .orderBy(col("doc_id"))
  }

  private val xcSampleSql =
    """WITH g AS (
      |  SELECT lang, source,
      |    CAST(SUM(len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS group_tokens
      |  FROM documents GROUP BY lang, source),
      |t AS (SELECT CAST(SUM(group_tokens) AS BIGINT) AS total_tokens,
      |             CAST(COUNT(*) AS BIGINT) AS n_groups FROM g),
      |mix AS (
      |  SELECT lang, source,
      |    (LEAST(group_tokens, (t.total_tokens // 2) // t.n_groups) * 1000000)
      |      // group_tokens AS weight_ppm
      |  FROM g CROSS JOIN t),
      |u AS (
      |  SELECT doc_id, lang, source,
      |    $SALTED_U AS u_ppm
      |  FROM documents)
      |SELECT u.doc_id, u.lang, u.source, mix.weight_ppm, CAST(u.u_ppm AS BIGINT) AS u_ppm
      |FROM u JOIN mix USING (lang, source)
      |WHERE u.u_ppm < mix.weight_ppm
      |ORDER BY doc_id""".stripMargin.replace("$SALTED_U", saltedUniformPpmSql)

  // ------------------------------------------------- weighted up-sampling
  /** The other half of domain mixing: [[sampleByWeight]] can only DROP
    * (weight ≤ 10⁶ ppm); real mixes also REPEAT under-represented
    * high-quality domains (weight > 10⁶ ppm — the Llama/Gopher-style
    * multi-epoch sources). Each doc emits `weight DIV 10⁶` full copies
    * plus one more iff its deterministic uniform (same salted-md5 as the
    * sampler) falls under `weight MOD 10⁶` — so expected copies =
    * weight/10⁶ exactly, per-doc decisions replay identically anywhere,
    * and a weight ≤ 10⁶ degrades to exactly [[sampleByWeight]]'s
    * behavior. Output carries `copy_id` (0-based) so downstream shuffle/
    * pack stages see distinct rows. Broadcast weights join + map-only
    * `sequence`/`posexplode` — the fan-out happens distributed, sized by
    * each row's own copy count, never materialized on the driver. */
  def upsampleByWeight(docs: DataFrame, weights: DataFrame): DataFrame = {
    val u = saltedUniformPpm
    docs.join(broadcast(weights), Seq("lang", "source"))
      .withColumn("u_ppm", u)
      .withColumn("n_copies",
        (col("weight_ppm") / 1000000).cast(LongType) +
          when(col("u_ppm") < col("weight_ppm") % 1000000, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("source"), col("n_copies"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_id"))
  }

  /** Declared form: a Llama-style mix — English repeated ~2.3×, the rest
    * kept at 60 % — expressed as a portable CASE weight table. */
  private def xcUpsample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val weights = docs.select(col("lang"), col("source")).distinct()
      .withColumn("weight_ppm",
        when(col("lang") === "en", 2300000L).otherwise(600000L))
    upsampleByWeight(docs, weights)
      .orderBy(col("doc_id"), col("copy_id"))
  }

  private val xcUpsampleSql =
    """WITH u AS (
      |  SELECT doc_id, lang, source,
      |    $SALTED_U AS u_ppm,
      |    CASE WHEN lang = 'en' THEN 2300000 ELSE 600000 END AS w
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, lang, source,
      |    w // 1000000 + CASE WHEN u_ppm < w % 1000000 THEN 1 ELSE 0 END AS n_copies
      |  FROM u)
      |SELECT doc_id, lang, source, CAST(n_copies AS BIGINT) AS n_copies,
      |  CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_id
      |FROM n WHERE n_copies > 0
      |ORDER BY doc_id, copy_id""".stripMargin.replace("$SALTED_U", saltedUniformPpmSql)

  // --------------------------------------------- int8 scalar quantization
  /** Per-dimension (min, max) of the corpus, computed as per-partition
    * partials reduced on the driver — the classic partial-aggregation
    * shape; the driver sees #partitions rows of 2×dim doubles, never the
    * data. */
  private[operators] def dimMinMax(emb: DataFrame): (Array[Double], Array[Double]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val partials = emb.select(col("embedding")).as[Array[Float]]
      .mapPartitions { it =>
        var mn: Array[Double] = null
        var mx: Array[Double] = null
        it.foreach { v =>
          if (mn == null) {
            mn = new Array[Double](v.length)
            mx = new Array[Double](v.length)
            var i = 0
            while (i < v.length) { mn(i) = v(i); mx(i) = v(i); i += 1 }
          } else {
            var i = 0
            while (i < v.length) {
              val d = v(i).toDouble
              if (d < mn(i)) mn(i) = d
              if (d > mx(i)) mx(i) = d
              i += 1
            }
          }
        }
        if (mn == null) Iterator.empty else Iterator.single((mn, mx))
      }.collect()
    require(partials.nonEmpty, "quantizeInt8: empty embedding corpus")
    partials.reduce { (a, b) =>
      val (amn, amx) = a; val (bmn, bmx) = b
      var i = 0
      while (i < amn.length) {
        if (bmn(i) < amn(i)) amn(i) = bmn(i)
        if (bmx(i) > amx(i)) amx(i) = bmx(i)
        i += 1
      }
      a
    }
  }

  /** Int8 scalar quantization of an embedding column: each dimension is
    * mapped to floor((v - min_d) * 255 / (max_d - min_d)) ∈ [0, 255]
    * (constant dimensions → 0). Returns the quantized vector plus exact
    * integer summaries (sum/min/max of the codes) that the oracle
    * reproduces bit-for-bit — every arithmetic step is IEEE-double in
    * the same order in both engines, and floor makes the result integral
    * so no rounding-mode divergence is possible. 4× memory compression
    * for ANN candidate stores; the quantize pass itself is map-only.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (mn, mx) = dimMinMax(emb)
    val bc = spark.sparkContext.broadcast((mn, mx))
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val (bmn, bmx) = bc.value
        val q = new Array[Int](v.length)
        var s = 0L
        var qmin = Int.MaxValue
        var qmax = Int.MinValue
        var i = 0
        while (i < v.length) {
          val lo = bmn(i); val hi = bmx(i)
          val qv = if (hi == lo) 0
            else math.floor((v(i).toDouble - lo) * 255.0 / (hi - lo)).toInt
          q(i) = qv
          s += qv
          if (qv < qmin) qmin = qv
          if (qv > qmax) qmax = qv
          i += 1
        }
        (id, q, s, qmin, qmax)
      }
      .toDF("vec_id", "qvec", "q_sum", "q_min", "q_max")
  }

  private def xcQuantize(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(Tables.load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("q_sum"), col("q_min"), col("q_max"))
      .orderBy(col("vec_id"))

  private val xcQuantizeSql =
    """WITH d AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |         unnest(embedding)::DOUBLE AS v
      |  FROM embeddings),
      |mm AS (SELECT dim, min(v) mn, max(v) mx FROM d GROUP BY dim),
      |q AS (SELECT d.vec_id,
      |        CASE WHEN mx = mn THEN 0
      |             ELSE floor((v - mn) * 255.0 / (mx - mn)) END AS qv
      |      FROM d JOIN mm USING (dim))
      |SELECT vec_id, CAST(SUM(qv) AS BIGINT) AS q_sum,
      |  CAST(MIN(qv) AS INTEGER) AS q_min, CAST(MAX(qv) AS INTEGER) AS q_max
      |FROM q GROUP BY vec_id
      |ORDER BY vec_id""".stripMargin

  // ----------------------------------------------- sequence packing
  /** GPT-style sequence packing: documents in doc_id order are
    * conceptually concatenated and cut into fixed-`seqLen`-token
    * training sequences; each doc reports its global token offset and
    * the sequence its first token lands in.
    *
    * The global running offset is a distributed two-phase prefix sum —
    * the scale-correct substitute for `SUM() OVER (ORDER BY doc_id)`,
    * which Spark plans as a SINGLE-partition window (the whole corpus
    * through one task):
    *   1. docs map to `buckets` contiguous doc_id ranges cut at the
    *      doc_id quantiles (Greenwald-Khanna sketch via
    *      `stat.approxQuantile` — one extra corpus pass, collected and
    *      broadcast as an explicit boundary list; no sampled
    *      RangePartitioner boundaries, which differ between jobs and
    *      would silently corrupt the offsets). Quantile cuts keep
    *      buckets balanced for ANY id distribution — clustered epochs,
    *      snowflake-style sparse ids — where fixed (max−min)/buckets
    *      widths would collapse most rows into a few buckets, and the
    *      (id−min)×buckets arithmetic would overflow Long on wide id
    *      ranges;
    *   2. per-bucket token totals (one tiny partially-aggregated
    *      groupBy) are exclusive-scanned on the driver — `buckets`
    *      longs — and broadcast-joined back;
    *   3. within each bucket a parallel window computes the local
    *      prefix; global offset = bucket offset + local prefix.
    * One corpus shuffle (the per-bucket window sort). Offsets are
    * boundary-independent — any consistent bucketing yields the same
    * prefix sums — so sketch precision only affects balance, never
    * correctness. */
  def pack(docs: DataFrame, seqLen: Int = 512, buckets: Int = 32): DataFrame = {
    val d = docs.select(col("doc_id"), size(tokens(col("text"))).as("n_words"))
    packOffsets(d, "n_words", buckets)
      .select(col("doc_id"), col("n_words"), col("offset_tokens"),
        expr(s"offset_tokens DIV $seqLen").as("seq_id"))
  }

  /** Global doc-order prefix sum of `nCol` WITHOUT a global sort — the
    * [[pack]] machinery, factored so any token-accounting column can
    * ride it ([[packIds]] uses BPE token counts): bucket by doc_id
    * quantile cuts, per-bucket window prefix sums, bucket base offsets
    * via a `buckets`-row collect. Returns the input plus
    * `offset_tokens` (empty input → empty output, schema preserved). */
  private[graft] def packOffsets(d: DataFrame, nCol: String,
      buckets: Int): DataFrame = packOffsetsWithTotal(d, nCol, buckets).offsets

  /** [[packOffsetsWithTotal]]'s driver-side by-products: the offsets
    * frame plus the batch's token/doc/word totals and its doc_id range
    * — all read off the one bucket-totals collect, so callers that
    * need them ([[graft.streaming.PackStream]]'s carry advance,
    * per-batch stats, and ordered-ingest tripwire) pay zero extra
    * aggregation jobs. `minDoc`/`maxDoc` are `Long.MaxValue`/
    * `Long.MinValue` on an empty input. */
  private[graft] case class PackTotals(offsets: DataFrame, tokens: Long,
      docs: Long, words: Long, minDoc: Long, maxDoc: Long)

  /** [[packOffsets]] plus the totals/range by-products above. */
  private[graft] def packOffsetsWithTotal(d: DataFrame, nCol: String,
      buckets: Int, wordsCol: Option[String] = None): PackTotals = {
    import org.apache.spark.sql.expressions.Window
    val cuts = packCuts(d, buckets)
    if (cuts.isEmpty)
      return PackTotals(d.limit(0).withColumn("offset_tokens", lit(0L)),
        0L, 0L, 0L, Long.MaxValue, Long.MinValue)
    // bucket id = number of boundary cuts strictly below doc_id: a chain
    // of `buckets`−1 codegen'd comparisons, no division, no overflow.
    val db = d.withColumn("_b",
      cuts.map(c => when(col("doc_id") > c, 1L).otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L)).cast(LongType))
    val spark = d.sparkSession
    import spark.implicits._
    val totals = db.groupBy(col("_b"))
      .agg(sum(col(nCol)).as("t"), count(lit(1)).as("c"),
        sum(wordsCol.map(col).getOrElse(lit(0L))).as("w"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val offs = totals.scanLeft((-1L, 0L)) {
      case ((_, acc), (b, t, _, _, _, _)) => (b, acc + t)
    }.sliding(2).map { case Array((_, acc), (b, _)) => (b, acc) }.toSeq
    val offDf = offs.toDF("_b", "_boff")
    val w = Window.partitionBy(col("_b")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    PackTotals(db.join(broadcast(offDf), Seq("_b"))
      .withColumn("offset_tokens",
        col("_boff") + coalesce(sum(col(nCol)).over(w), lit(0L)))
      .drop("_b", "_boff"),
      totals.map(_._2).sum, totals.map(_._3).sum, totals.map(_._4).sum,
      totals.map(_._5).min, totals.map(_._6).max)
  }

  /** Interior bucket boundaries for [[pack]]: the 1/b … (b−1)/b doc_id
    * quantiles from a deterministic Greenwald-Khanna sketch (relative
    * error 0.001), deduplicated. Returns an empty array iff the input
    * has no rows (approxQuantile ignores nothing else here — doc_id is
    * non-null), so callers can use emptiness as the empty-corpus
    * signal: all-identical ids still yield one cut. */
  private[operators] def packCuts(d: DataFrame, buckets: Int): Array[Long] = {
    val b = math.max(buckets, 2)
    val probs = (1 until b).map(_.toDouble / b).toArray
    d.stat.approxQuantile("doc_id", probs, 0.001).map(_.toLong).distinct.sorted
  }

  private def xcPack(spark: SparkSession, dir: String): DataFrame =
    pack(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------- sequence packing
  /** [[packIds]]'s first stage, factored so batch and incremental
    * packing can never drift ([[graft.streaming.PackStream]] runs the
    * SAME per-doc stage per micro-batch): each doc's frozen-tokenizer
    * id stream (`docids` — comma-joined, EOS appended) plus its token
    * count `n` (incl. EOS).
    *
    * EOS id = 36 + MERGE COUNT — one past the highest id the
    * assignment scheme can mint (merge rank r holds 36+r) — NOT the
    * vocab-map size: when two merges collide on a surface string the
    * map is smaller than the id range, and a size-derived EOS would
    * equal the last merge's real token id, silently aliasing document
    * boundaries with content (review r14).
    *
    * localCheckpoint, not recompute: THIS lineage (encode chain + a
    * corpus-wide groupBy/collect_list) is consumed three times —
    * packOffsets' quantile sketch, its bucket-totals collect, and the
    * final explode job — and unlike the cheap map-only lineages the
    * BigramMatSweep measured, materializing it wins here (review r14;
    * measured at sf0.1 in BENCHNOTES). */
  private[graft] def perDocIds(docs: DataFrame, tokDir: String): DataFrame = {
    // ONE merge-table load feeds both the encode and the EOS id
    val merges = TokenizerStore.loadMerges(docs.sparkSession, tokDir)
    val eos = 36 + merges.size
    TokenizerStore.encodeBpeIdsWith(docs, merges)
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("ids")))),
          x => x.getField("ids"))).as("docids"),
        (sum(col("n_sym")) + 1L).as("n"),
        count(lit(1)).as("n_words"))
      .withColumn("docids", concat(col("docids"), lit(s",$eos")))
      .localCheckpoint()
  }

  /** Pack the corpus's TOKEN-ID stream into fixed-length training
    * sequences — the last stage before a training job reads the data:
    * each doc's frozen-tokenizer ids ([[TokenizerStore.encodeBpeIds]])
    * plus one EOS separator ([[perDocIds]]), concatenated in doc_id
    * order and cut every `seqLen` tokens (the GPT-style packed-sequence
    * layout; the tail sequence keeps its short length). Docs with no
    * gated words contribute nothing.
    *
    * 100 TB shape: per-doc id streams come from one word-level
    * aggregation (per-doc sorted collect of ≤doc-length word arrays —
    * bounded by document size, never corpus); global token offsets ride
    * [[packOffsets]]'s bucketed prefix sum (no global sort, one
    * `buckets`-row collect); the final explode shuffles one row per
    * token ONCE, keyed on seq_id — the honest cost of materializing
    * training sequences, and exactly the shuffle a packing job exists
    * to pay. Output is sequence-count-sized. */
  def packIds(docs: DataFrame, tokDir: String, seqLen: Int = 512,
      buckets: Int = 32): DataFrame = {
    val perDoc = perDocIds(docs, tokDir)
    // fan the explode input out (r21, §2.6): one doc-level row expands
    // to thousands of per-token rows, so the explode's cost is invisible
    // to AQE's size-based coalescing, which collapsed the offsets
    // window's exchange to ONE task carrying the whole per-token pass
    graft.core.Par.fan(packOffsets(perDoc, "n", buckets))
      .select(col("offset_tokens"),
        posexplode(split(col("docids"), ",")).as(Seq("k", "id")))
      .withColumn("gpos", col("offset_tokens") + col("k"))
      .groupBy(expr(s"gpos DIV $seqLen").as("seq_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_tokens"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("gpos"), col("id")))),
          x => x.getField("id"))).as("ids"))
  }

  /** Packed from the shared frozen `bpe-r8v256` artifact (third
    * consumer of one training). The oracle rebuilds the id stream in
    * SQL — the shared bpe-ids CTEs, per-doc flatten + EOS append, a
    * global running-sum offset (fine in DuckDB; Spark avoids the
    * global sort via the bucketed prefix sum), unnest with ordinality,
    * and GROUP BY gpos // seqLen. */
  private def xcPackIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => TokenizerStore.trainBpe(docs, d, 8, 256))
    packIds(docs, tokDir).orderBy(col("seq_id"))
  }

  /** The packIds oracle, parameterized the way [[packIds]] itself is
    * reused: `prefix` prepends extra CTEs (must end with a trailing
    * comma) and `encodeFrom` swaps the encode-side corpus —
    * `xs_curate_pack` packs curation survivors against the same frozen
    * tokenizer. */
  /** Through the per-doc id lists with their global offsets (`offs`:
    * doc_id, ids, o) — shared by the packing oracle and the
    * doc-boundary oracle. */
  private def packOffsCtes(prefix: String, encodeFrom: String): String = {
    val rounds = 8
    s"""$prefix${TextAnalysis.bpeIdsCtes(rounds, 256, encodeFrom)},
       |eos AS (SELECT 36 + COUNT(*) AS e FROM mvocab),
       |docids AS (
       |  SELECT doc_id,
       |    list_append(flatten(list(
       |      list_transform(string_split(trim(sym), ' '), t -> map_extract(vm.m, t)[1])
       |      ORDER BY pos)), (SELECT e FROM eos)) AS ids,
       |    COUNT(*) AS nw
       |  FROM f$rounds CROSS JOIN vm GROUP BY doc_id),
       |offs AS (
       |  SELECT doc_id, ids,
       |    COALESCE(SUM(len(ids)) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
       |  FROM docids)""".stripMargin
  }

  private[graft] def packIdsSql(prefix: String = "",
      encodeFrom: String = "documents"): String =
    s"""WITH ${packOffsCtes(prefix, encodeFrom)},
       |tok AS (
       |  SELECT o + u['i'] AS gpos, u['v'] AS id
       |  FROM (SELECT o, unnest([{'i': i, 'v': ids[i+1]} for i in range(len(ids))]) AS u
       |        FROM offs))
       |SELECT CAST(gpos // 512 AS BIGINT) AS seq_id,
       |  CAST(COUNT(*) AS INTEGER) AS n_tokens,
       |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY gpos) AS ids
       |FROM tok GROUP BY 1
       |ORDER BY seq_id""".stripMargin

  private[graft] val xcPackIdsSql = packIdsSql()

  /** Per-drop pricing stats for [[graft.streaming.PackStream]]'s
    * `xs_pack_stats` oracle: each doc's token count (incl. EOS) from
    * the shared bpe CTEs, bucketed into the doc_id-range thirds the
    * three-drop harness cuts, counted and summed per drop. */
  private[graft] def packStatsSql(prefix: String = "",
      encodeFrom: String = "documents"): String =
    s"""WITH ${packOffsCtes(prefix, encodeFrom)},
       |bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |b AS (
       |  SELECT CASE WHEN doc_id <= lo + (hi - lo) // 3 THEN 0
       |              WHEN doc_id <= lo + 2 * ((hi - lo) // 3) THEN 1
       |              ELSE 2 END AS batch_id,
       |    len(ids) AS n, nw
       |  FROM docids CROSS JOIN bounds)
       |SELECT CAST(batch_id AS BIGINT) AS batch_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nw) AS BIGINT) AS n_words,
       |  CAST(SUM(n) AS BIGINT) AS n_tokens
       |FROM b GROUP BY 1
       |ORDER BY batch_id""".stripMargin

  /** Per packed sequence, the LOCAL positions where documents START —
    * the metadata a trainer turns into block-diagonal attention masks
    * over [[packIds]]'s sequences (tokens must not attend across an
    * EOS into the previous document). A sequence fully inside one long
    * document gets no row (its position 0 continues the spanning doc).
    * Doc-level, not token-level: each boundary is pure arithmetic on
    * the doc's global offset (DIV/MOD seqLen), so the operator is the
    * SAME bucketed prefix sum as [[pack]] plus one doc-count-sized
    * aggregation — no per-token explode, which is why it ships as its
    * own row instead of a column on the (token-shuffling) [[packIds]]
    * output: masks cost a doc pass, sequences cost the token pass. */
  def packBounds(docs: DataFrame, tokDir: String, seqLen: Int = 512,
      buckets: Int = 32): DataFrame = {
    val perDoc = perDocIds(docs, tokDir)
    packOffsets(perDoc, "n", buckets)
      .select(expr(s"offset_tokens DIV $seqLen").as("seq_id"),
        (col("offset_tokens") % seqLen).cast(IntegerType).as("p"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        concat_ws(",", transform(
          array_sort(collect_list(col("p"))),
          x => x.cast(StringType))).as("doc_starts"))
  }

  private def xcPackBounds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => TokenizerStore.trainBpe(docs, d, 8, 256))
    packBounds(docs, tokDir).orderBy(col("seq_id"))
  }

  private val xcPackBoundsSql =
    s"""WITH ${packOffsCtes("", "documents")}
       |SELECT CAST(o // 512 AS BIGINT) AS seq_id,
       |  CAST(COUNT(*) AS INTEGER) AS n_docs,
       |  string_agg(CAST(o % 512 AS VARCHAR), ',' ORDER BY o) AS doc_starts
       |FROM offs GROUP BY 1
       |ORDER BY seq_id""".stripMargin

  /** Lay [[packIds]]'s SEQUENCES out into deterministic, size-balanced
    * training shards — the last mile to a training loader: each packed
    * sequence gets a shard (salted-md5 of seq_id mod `nShards`; salt
    * `packshard:` is independent of the [[shardAssign]] / [[hashSplit]]
    * / [[sampleByWeight]] salts, so the four decisions stay mutually
    * pseudo-random) and a dense within-shard position ordered by the
    * hash itself — a replay-identical permutation of the sequence
    * stream, which is exactly the "global shuffle" a loader wants
    * without any engine ever paying a global sort. [[shardAssign]]
    * shards DOCUMENTS (the corpus-management unit); this shards the
    * post-packing SEQUENCES (the training unit) — after packing, doc
    * boundaries no longer align with rows, so a loader-facing shuffle
    * must key on seq_id.
    *
    * Scale: one shuffle partitioned BY SHARD with an in-partition sort
    * (`row_number` over `partitionBy(shard)`) — shards order-assign in
    * parallel, no global sort, no single-partition window; since every
    * sequence but the tail is exactly seqLen tokens, uniform hashing
    * makes the shards size-balanced by construction. `n_tokens` rides
    * along so a loader can size batches without re-reading content
    * (`ids` joins back by seq_id when needed — the heavy column stays
    * out of the permutation exchange). */
  def shardPacked(packed: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"shardPacked: nShards must be positive, got $nShards " +
      "(a non-positive count would surface as an opaque modulo failure in tasks)")
    val h = md5(concat(lit("packshard:"), col("seq_id").cast(StringType)).cast(BinaryType))
    packed
      .select(col("seq_id"), col("n_tokens"), h.as("_h"))
      .withColumn("shard",
        (conv(substring(col("_h"), 1, 6), 16, 10).cast(LongType) % nShards)
          .cast(IntegerType))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("_h"), col("seq_id"))))
      .select(col("seq_id"), col("shard"), col("pos"), col("n_tokens"))
  }

  private def xcPackShard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => TokenizerStore.trainBpe(docs, d, 8, 256))
    shardPacked(packIds(docs, tokDir), 8)
      .orderBy(col("shard"), col("pos"))
  }

  /** The packIds replay as a derived table, then the same salted-md5
    * shard + per-shard row_number the [[xcShardSql]] oracle uses. */
  private val xcPackShardSql =
    """WITH p AS (SELECT seq_id, n_tokens FROM (PACK_IDS_SQL)),
      |h AS (
      |  SELECT seq_id, n_tokens,
      |    md5('packshard:' || CAST(seq_id AS VARCHAR)) AS _h
      |  FROM p),
      |s AS (
      |  SELECT seq_id, n_tokens, _h,
      |    CAST((SALTED_H6) % 8 AS INTEGER) AS shard
      |  FROM h)
      |SELECT seq_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY _h, seq_id) AS INTEGER) AS pos,
      |  n_tokens
      |FROM s
      |ORDER BY shard, pos""".stripMargin
      .replace("PACK_IDS_SQL", packIdsSql())
      .replace("SALTED_H6",
        (0 until 6).map { i =>
          val pv = math.pow(16, 5 - i).toLong
          s"(strpos('0123456789abcdef', substr(_h, ${i + 1}, 1)) - 1) * $pv"
        }.mkString("(", " + ", ")"))

  private val xcPackSql =
    """SELECT doc_id, n_words, offset_tokens, offset_tokens // 512 AS seq_id
      |FROM (
      |  SELECT doc_id, CAST(n AS INTEGER) AS n_words,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset_tokens
      |  FROM (SELECT doc_id,
      |          len(string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS n
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- end-to-end curation run
  /** The curation stages composed the way a real corpus build runs them:
    * exact dedup (keep the lowest doc_id per normalized text) → C4-style
    * repetition/length filter (≥ `minWords` words, duplicate-word
    * fraction ≤ `maxDupWordFrac`) → deterministic md5 split. Returns the
    * surviving docs with their repetition metrics and split labels, so
    * callers can keep filtering or write the corpus out.
    *
    * Shuffle budget at 100 TB: the keep-first dedup costs one groupBy
    * shuffle of tiny post-combine (key, min-id) pairs plus one semi-join
    * shuffle of the corpus keyed on the unique doc_id — both skew-free.
    * A `Window.partitionBy(normText)` would be one shuffle instead of
    * two, but it funnels every copy of a hot key into a single task: a
    * viral boilerplate page duplicated millions of times in a crawl
    * becomes one straggler task. The groupBy formulation partially
    * aggregates map-side, so that same hot key contributes at most one
    * row per input partition to the shuffle. The filter and split stages
    * are map-only on top. */
  def curate(docs: DataFrame, minWords: Int = 30,
      maxDupWordFrac: Double = 0.5): DataFrame = {
    import Dedup.normText
    val keepers = docs
      .groupBy(normText(col("text")).as("_k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = docs.join(keepers, Seq("doc_id"), "left_semi")
    hashSplit(repetition(deduped)
      .filter(col("n_words") >= minWords && col("dup_word_frac") <= maxDupWordFrac))
  }

  /** Every curation operator composed into one pipeline, the way a full
    * corpus build runs them: [[curate]] (keep-first dedup → repetition
    * filter → md5 split) → n-gram decontamination against an eval set
    * (docs with any shared eval 5-gram dropped) → [[domainMix]] weights
    * of the surviving corpus attached per (lang, source).
    *
    * Scale posture: curate's two skew-free shuffles, the broadcast-join
    * contamination pass (eval dictionary broadcast, corpus map-side), a
    * doc_id anti-join against the (small) contaminated-id set, and a
    * domain-count-sized broadcast for the weights — no new corpus-sized
    * shuffle beyond curate's own. The weights reuse the `n_words` the
    * repetition stage already computed (no re-tokenize). Lazily composed,
    * the curate subtree is re-evaluated once per consumer (shuffles are
    * AQE-reused but post-exchange map work is not); a production run
    * persists/materializes `curated` between stages — operators here
    * stay side-effect-free so the driver can run them as one query. */
  def curateFull(docs: DataFrame, evalDocs: DataFrame, minWords: Int = 30,
      maxDupWordFrac: Double = 0.5, maxEvalHits: Long = 0): DataFrame = {
    val curated = curate(docs, minWords, maxDupWordFrac)
    val contaminated = contamination(curated, evalDocs)
      .filter(col("n_hits") > maxEvalHits)
      .select(col("doc_id"))
    val clean = curated.join(contaminated, Seq("doc_id"), "left_anti")
    val weights = domainMixFromCounts(
        clean.groupBy(col("lang"), col("source"))
          .agg(sum(col("n_words")).as("group_tokens")),
        budgetDen = 2)
      .select(col("lang"), col("source"), col("weight_ppm"))
    clean.join(broadcast(weights), Seq("lang", "source"))
  }

  /** Write a curated corpus in the training-ready layout: parquet
    * partitioned by (lang, split) so a loader reads exactly the split it
    * trains on (partition pruning, no file listing of the rest), with
    * `maxRecordsPerFile` bounding file size so a 100 TB output lands as
    * uniformly-sized files instead of one giant file per final task.
    * The pre-write `repartition(lang, split)` clusters each output
    * partition's rows into the same tasks — without it every task writes
    * a sliver of every (lang, split) directory and the output is
    * tasks × partitions tiny files. */
  def writeCurated(df: DataFrame, dir: String, maxRecordsPerFile: Int = 500000): Unit =
    // repartitionByRange (not hash-repartition!) on (lang, split, doc_id):
    // a plain repartition(lang, split) funnels ALL rows of a (lang, split)
    // pair through ONE task — the same hot-key straggler this module's
    // dedup avoids — while range partitioning spreads each directory
    // across many contiguous tasks, each still writing only 1-2
    // directories' worth of files
    df.repartitionByRange(col("lang"), col("split"), col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy("lang", "split")
      .parquet(dir)

  /** Declared pipeline output: per-(lang, split) doc and token counts of
    * the curated corpus — the numbers a training run budgets against. */
  private def xcPipeline(spark: SparkSession, dir: String): DataFrame =
    curate(Tables.load(spark, dir, "documents"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("tot_words"))
      .orderBy(col("lang"), col("split"))

  private val xcPipelineSql =
    """WITH keep AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents
      |  GROUP BY trim(lower(regexp_replace(text, '\s+', ' ', 'g')))),
      |rep AS (
      |  SELECT doc_id, lang, len(w) AS n_words,
      |    (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE) AS dwf
      |  FROM (SELECT doc_id, lang,
      |          string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') w
      |        FROM documents WHERE doc_id IN (SELECT doc_id FROM keep))),
      |s AS (
      |  SELECT lang, n_words,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM rep WHERE n_words >= 30 AND dwf <= 0.5)
      |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS tot_words
      |FROM s GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin

  /** Declared full-pipeline output: per-(lang, source, split) doc and
    * token counts with the domain sampling weight — every curation
    * operator exercised in one query. Eval set = doc_id % 20 == 0,
    * corpus = the rest (the xc_contamination convention). */
  private def xcPipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    curateFull(docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
      .groupBy(col("lang"), col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("tot_words"),
        min(col("weight_ppm")).as("weight_ppm"))
      .orderBy(col("lang"), col("source"), col("split"))
  }

  private val xcPipelineFullSql =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 20 <> 0),
      |ev AS (SELECT text FROM documents WHERE doc_id % 20 = 0),
      |keep AS (
      |  SELECT MIN(doc_id) AS doc_id FROM corpus
      |  GROUP BY trim(lower(regexp_replace(text, '\s+', ' ', 'g')))),
      |rep AS (
      |  SELECT doc_id, lang, source, len(w) AS n_words, w,
      |    (len(w) - len(list_distinct(w))) / CAST(len(w) AS DOUBLE) AS dwf
      |  FROM (SELECT doc_id, lang, source,
      |          string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |        FROM corpus WHERE doc_id IN (SELECT doc_id FROM keep))),
      |filt AS (SELECT doc_id, lang, source, n_words, w FROM rep
      |         WHERE n_words >= 30 AND dwf <= 0.5),
      |eg AS (
      |  SELECT DISTINCT unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END) AS g
      |  FROM (SELECT string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |        FROM ev)),
      |cg AS (
      |  SELECT doc_id, unnest(CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END) AS g
      |  FROM filt),
      |contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
      |clean AS (SELECT * FROM filt WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      |gm AS (SELECT lang, source, CAST(SUM(n_words) AS BIGINT) AS group_tokens
      |       FROM clean GROUP BY lang, source),
      |tt AS (SELECT CAST(SUM(group_tokens) AS BIGINT) AS total_tokens,
      |              CAST(COUNT(*) AS BIGINT) AS n_groups FROM gm),
      |mix AS (SELECT lang, source,
      |  (LEAST(group_tokens, (tt.total_tokens // 2) // tt.n_groups) * 1000000)
      |    // group_tokens AS weight_ppm
      |  FROM gm CROSS JOIN tt),
      |sp AS (SELECT c.doc_id, c.lang, c.source, c.n_words,
      |  CASE WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
      |       WHEN substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM clean c)
      |SELECT sp.lang, sp.source, sp.split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(sp.n_words) AS BIGINT) AS tot_words,
      |  mix.weight_ppm
      |FROM sp JOIN mix USING (lang, source)
      |GROUP BY sp.lang, sp.source, sp.split, mix.weight_ppm
      |ORDER BY lang, source, split""".stripMargin

  // ------------------------------------------------- keep-best dedup
  /** The production dedup POLICY: within each near-dup cluster keep the
    * highest-QUALITY document, not the lowest id — what curation
    * pipelines actually do once a quality score exists (keep-first
    * throws away the best copy whenever it isn't the oldest). Composes
    * [[Dedup.dedupClusters]] over the minhash near-dup graph with
    * [[TextAnalysis.qualityScored]]; the winner is an argmax per
    * cluster via a cluster-partitioned `row_number` (parallel across
    * clusters, no global sort — cluster count ~ corpus size, cluster
    * width ~ dup group size). Ties break on doc_id, so the result is
    * replay-deterministic. */
  def keepBest(docs: DataFrame): DataFrame =
    bestPerCluster(Dedup.dedupClusters(
      docs.select(col("doc_id"), col("text")), Dedup.neardupMinhash(docs)), docs)

  /** Winner selection shared by the keep-best policies: argmax per
    * cluster by (quality DESC, doc_id) via a cluster-partitioned
    * row_number — parallel across clusters, no global sort. */
  private def bestPerCluster(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.qualityScored(docs)
      .select(col("doc_id"), col("quality_score"))
    clusters.join(scored, Seq("doc_id"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("quality_score").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("rnk") === 1).as("kept"))
  }

  /** The 100 TB SUBSTRING-dedup pipeline composed end-to-end (the
    * scale path no single row exercised before — VERDICT r6-r8 carried
    * item): capped-run pair mining ([[Dedup.substringDupPairsRuns]]
    * with `maxRun`) → connected components ([[Dedup.dedupClusters]])
    * → keep-best-quality survivor per cluster. The cap is what makes
    * this composition run at corpus scale — an oversized (boilerplate)
    * gram run emits O(d) star edges instead of O(d²) pairs — and it is
    * EXACT for this pipeline by construction: star edges keep the
    * run's docs one connected component with the same minimum
    * (`Dedup.scala` run-cap contract), so cluster labels, and
    * therefore survivors, are byte-identical to the uncapped graph.
    * The oracle computes that uncapped truth independently: a
    * recursive-CTE closure over the EXACT full-gram pair join, argmax
    * by the shared quality expression. */
  def substringKeepBest(docs: DataFrame, k: Int = 24, maxRun: Int = 8): DataFrame =
    bestPerCluster(Dedup.dedupClusters(
      docs.select(col("doc_id")),
      Dedup.substringDupPairsRuns(docs, k, maxRun)), docs)

  private def xcKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBest(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Oracle: the recursive-CTE transitive closure over the exact
    * 5-gram Jaccard ≥ 0.8 graph (same cluster semantics the
    * x1_dedup_clusters oracle verifies) joined to the shared quality
    * subquery, argmax per cluster by (quality DESC, doc_id). */
  private def xcKeepBestSql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT doc_id, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
       |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END sh
       |  FROM (SELECT doc_id,
       |          string_split(trim(lower(regexp_replace(text,'\\s+',' ','g'))), ' ') w
       |        FROM documents)),
       |e0 AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
       |  ON a.doc_id < b.doc_id
       |   AND len(list_intersect(a.sh, b.sh))::DOUBLE /
       |       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (
       |  SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY id),
       |q AS (${TextAnalysis.qualityScoreSql})
       |SELECT doc_id, cluster_id, quality_score, rnk = 1 AS kept FROM (
       |  SELECT cl.doc_id, cl.cluster_id, q.quality_score,
       |    row_number() OVER (PARTITION BY cl.cluster_id
       |      ORDER BY q.quality_score DESC, cl.doc_id) AS rnk
       |  FROM cl JOIN q USING (doc_id)) t
       |ORDER BY doc_id""".stripMargin

  private def xcSubstringKeepBest(spark: SparkSession, dir: String): DataFrame =
    substringKeepBest(Tables.load(spark, dir, "documents"), 24, maxRun = 4)
      .orderBy(col("doc_id"))

  /** Oracle: recursive-CTE transitive closure over the UNCAPPED exact
    * 24-char substring pair graph (the x1_substring_dup expression),
    * argmax per cluster by the shared quality subquery — independent
    * truth for the capped-run → CC → keep-best composition. */
  private def xcSubstringKeepBestSql: String =
    s"""WITH RECURSIVE n AS (
       |  SELECT doc_id, trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [substr(t, i, 24) for i in range(1, len(t) - 24 + 2)])) AS gram
       |  FROM n WHERE len(t) >= 24),
       |e0 AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (
       |  SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY id),
       |q AS (${TextAnalysis.qualityScoreSql})
       |SELECT doc_id, cluster_id, quality_score, rnk = 1 AS kept FROM (
       |  SELECT cl.doc_id, cl.cluster_id, q.quality_score,
       |    row_number() OVER (PARTITION BY cl.cluster_id
       |      ORDER BY q.quality_score DESC, cl.doc_id) AS rnk
       |  FROM cl JOIN q USING (doc_id)) t
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ deterministic shard
  /** Training-shard assignment + within-shard order — the "global
    * shuffle" every pre-training pipeline runs before writing shards:
    * each document gets a shard (salted-md5 mod nShards, independent of
    * the [[hashSplit]] and [[sampleByWeight]] salts so the three
    * decisions are mutually pseudo-random) and a dense position inside
    * the shard, ordered by the hash itself — i.e. the read order is a
    * deterministic, replay-identical permutation of the corpus.
    *
    * Scale: one shuffle, partitioned BY SHARD, with an in-partition
    * sort — `row_number` over `partitionBy(shard)` — so shards
    * order-assign in parallel. nShards is the output-file count;
    * production sets it to thousands at 100 TB (each shard = one
    * training file of a few GB), which simultaneously bounds the
    * per-task sort. No global sort, no single-partition window. */
  def shardAssign(docs: DataFrame, nShards: Int): DataFrame = {
    val h = md5(concat(lit("shard:"), col("doc_id").cast(StringType)).cast(BinaryType))
    docs
      .select(col("doc_id"), h.as("_h"))
      .withColumn("shard",
        (conv(substring(col("_h"), 1, 6), 16, 10).cast(LongType) % nShards)
          .cast(IntegerType))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("_h"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  private def xcShard(spark: SparkSession, dir: String): DataFrame =
    shardAssign(Tables.load(spark, dir, "documents"), 8)
      .orderBy(col("shard"), col("pos"))

  private val xcShardSql =
    """WITH h AS (
      |  SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS _h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, _h,
      |    CAST((SALTED_H6) % 8 AS INTEGER) AS shard
      |  FROM h)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY _h, doc_id) AS INTEGER) AS pos
      |FROM s
      |ORDER BY shard, pos""".stripMargin.replace("SALTED_H6",
      (0 until 6).map { i =>
        val pv = math.pow(16, 5 - i).toLong
        s"(strpos('0123456789abcdef', substr(_h, ${i + 1}, 1)) - 1) * $pv"
      }.mkString("(", " + ", ")"))

  // --------------------------------------- Gopher-style quality rules
  /** The rule columns as named expressions over a `text` column —
    * shared by [[gopherRules]] and the one-scan [[signalTable]]. */
  private[operators] def gopherRuleCols: Seq[(String, Column)] = {
    val norm = trim(lower(regexp_replace(col("text"), "\\s+", " ")))
    val w = split(norm, " ")
    val nWords = size(w)
    val nWordsD = nWords.cast(DoubleType)
    val meanWlen = length(regexp_replace(norm, " ", "")).cast(DoubleType) / nWordsD
    val ellipses = (length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))).cast(DoubleType) / 3.0
    val hashes = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast(DoubleType)
    val symbolRatio = (ellipses + hashes) / nWordsD
    val alphaFrac = size(filter(w, t => t.rlike("[a-z]"))).cast(DoubleType) / nWordsD
    val stopHits = size(array_intersect(array_distinct(w),
      array(GopherStops.map(lit): _*)))
    val okWords = nWords.between(10, 100000)
    val okMean = meanWlen.between(3.0, 10.0)
    val okSymbols = symbolRatio < 0.1
    val okAlpha = alphaFrac > 0.8
    val okStops = stopHits >= 2
    Seq("n_words" -> nWords, "mean_wlen" -> meanWlen,
      "symbol_ratio" -> symbolRatio, "alpha_frac" -> alphaFrac,
      "stop_hits" -> stopHits,
      "ok_words" -> okWords, "ok_mean_len" -> okMean,
      "ok_symbols" -> okSymbols, "ok_alpha" -> okAlpha,
      "ok_stops" -> okStops,
      "keep" -> (okWords && okMean && okSymbols && okAlpha && okStops))
  }

  /** Rule-based document filtering after Gopher (Rae et al. 2021,
    * arXiv:2112.11446 §A.1.1) — the standard pre-training heuristic
    * gate: word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio ('#' and '...'), fraction of alphabetic words, and a
    * required minimum of distinct English stop words. Every rule is a
    * map-only integer/double expression over the normalized token
    * array — zero shuffles, fully codegen — and each flag is emitted
    * separately (plus the conjunction `keep`) so downstream audits can
    * see WHICH rule rejected a document, not just that one did.
    *
    * Bounds are the paper's except min words 10 (vs 50): the fixture's
    * synthetic docs run 7-100 words, and a gate that rejects the whole
    * corpus exercises nothing. Arithmetic is +,*,/ over exact integers
    * in one fixed order (no exp/log), so Spark and DuckDB agree
    * bit-for-bit, same contract as [[TextAnalysis.qualityScored]].
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: gopherRuleCols.map { case (n, c) => c.as(n) }: _*)

  /** Gopher's required stop words (loc. cit.): two distinct hits keep. */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def xcGopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  private val xcGopherRulesSql = {
    val stops = GopherStops.map(s => s"'$s'").mkString(", ")
    // 0.5e0-style literals force DOUBLE in DuckDB (bare 0.5 is DECIMAL,
    // whose arithmetic would diverge from Spark's doubles)
    s"""WITH n AS (
       |  SELECT doc_id, text,
       |    trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, text, norm,
       |    string_split(norm, ' ') AS w,
       |    CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_words
       |  FROM n),
       |m AS (
       |  SELECT doc_id,
       |    n_words,
       |    length(replace(norm, ' ', '')) / CAST(n_words AS DOUBLE) AS mean_wlen,
       |    ((length(text) - length(replace(text, '...', ''))) / 3.0e0
       |      + (length(text) - length(replace(text, '#', ''))))
       |      / CAST(n_words AS DOUBLE) AS symbol_ratio,
       |    len(list_filter(w, t -> regexp_matches(t, '[a-z]')))
       |      / CAST(n_words AS DOUBLE) AS alpha_frac,
       |    CAST(len(list_intersect(list_distinct(w), [$stops])) AS INTEGER) AS stop_hits
       |  FROM d)
       |SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_frac, stop_hits,
       |  n_words BETWEEN 10 AND 100000 AS ok_words,
       |  mean_wlen BETWEEN 3.0e0 AND 10.0e0 AS ok_mean_len,
       |  symbol_ratio < 0.1e0 AS ok_symbols,
       |  alpha_frac > 0.8e0 AS ok_alpha,
       |  stop_hits >= 2 AS ok_stops,
       |  (n_words BETWEEN 10 AND 100000) AND (mean_wlen BETWEEN 3.0e0 AND 10.0e0)
       |    AND (symbol_ratio < 0.1e0) AND (alpha_frac > 0.8e0)
       |    AND (stop_hits >= 2) AS keep
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ stratified sampling
  /** Deterministic per-stratum k-sample: within every (lang, source)
    * stratum keep the k docs with the lowest salted-md5 priority — the
    * distributed equivalent of a per-stratum reservoir sample with a
    * reproducible priority function (same md5-portability argument as
    * [[shardAssign]]). One shuffle on the stratum key; the rank window
    * is PER STRATUM, so the sort is parallel across strata with k-bounded
    * output per group — no global sort, no driver-side state, and a new
    * stratum appearing at 100 TB changes nothing (keys are data-derived,
    * not enumerated).
    */
  def stratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    val h = md5(concat(lit("strat:"), col("doc_id").cast(StringType)).cast(BinaryType))
    docs.select(col("doc_id"), col("lang"), col("source"), h.as("_h"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"), col("source"))
          .orderBy(col("_h"), col("doc_id"))))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("lang"), col("source"), col("rnk"))
  }

  private def xcStratified(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.load(spark, dir, "documents"), 5)
      .orderBy(col("lang"), col("source"), col("rnk"))

  private val xcStratifiedSql =
    """WITH h AS (
      |  SELECT doc_id, lang, source,
      |    md5('strat:' || CAST(doc_id AS VARCHAR)) AS _h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang, source,
      |    CAST(row_number() OVER (
      |      PARTITION BY lang, source ORDER BY _h, doc_id) AS INTEGER) AS rnk
      |  FROM h)
      |SELECT doc_id, lang, source, rnk
      |FROM r WHERE rnk <= 5
      |ORDER BY lang, source, rnk""".stripMargin

  // -------------------------------------------- perplexity bucketing
  /** CCNet's head/middle/tail split — what the bigram LM is FOR in a
    * curation pipeline (Wenzek et al. 2020 bucket every document by
    * its trained-LM perplexity and keep head+middle for training;
    * LLaMA's recipe inherits the stage). Thresholds are ABSOLUTE
    * cutoffs chosen offline against the trained model — the CCNet
    * deployment shape (buckets derive from a held-out percentile sweep
    * ONCE, then apply as constants), which keeps the stage map-only
    * after the scoring join; a per-corpus global percentile would be a
    * single-reducer sort at 100 TB. Cross-entropy is monotone in
    * perplexity (ppl = e^H), so bucketing H directly is the same
    * split. */
  def perplexityBuckets(scores: DataFrame, headBelow: Double,
      middleBelow: Double): DataFrame =
    scores.withColumn("bucket",
      when(col("cross_entropy") < headBelow, "head")
        .when(col("cross_entropy") < middleBelow, "middle")
        .otherwise("tail"))

  /** Scored from the PERSISTED [[TokenizerStore]] LM — the same frozen
    * artifact `xt_bigram_lm_persisted` serves (one training per corpus
    * fingerprint, two consumers: exactly the amortization the store
    * exists for). Thresholds 3.38/3.41 bracket the fixture generator's
    * SF-stable cross-entropy median (~3.39–3.40 at sf0.001→0.1,
    * measured in BENCHNOTES r14), so every SF exercises all three
    * buckets. Boundary safety: engine float noise is ~1e-13 while
    * adjacent-doc score gaps are ~1e-5, so an exact threshold compare
    * cannot flip a bucket between Spark and DuckDB in practice. */
  private def xcPerplexityBucket(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "biglm-a1-cd",
      d => TokenizerStore.trainBigramLm(docs, d))
    perplexityBuckets(TokenizerStore.scoreBigramLm(docs, tokDir), 3.38, 3.41)
      .orderBy(col("doc_id"))
  }

  private val xcPerplexityBucketSql =
    s"""SELECT doc_id, n_bigrams, cross_entropy,
       |  CASE WHEN cross_entropy < 3.38 THEN 'head'
       |       WHEN cross_entropy < 3.41 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM (${TextAnalysis.bigramLmScoreSql})
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------- DSIR importance resampling
  /** Per-occurrence hashed-feature stream for [[dsirLogWeights]]:
    * word unigrams AND bigrams (DSIR's feature set), each occurrence
    * hashed to one of `buckets` buckets via the first 8 bits of md5 —
    * bit-identical across engines, so the oracle replays the model
    * exactly. The bigram pairing is a map-only `zip_with` over two
    * shifted slices of the SAME token array — no per-doc window
    * shuffle, unlike [[TextAnalysis.bigramsOf]], because occurrence
    * POSITION never matters to a bag-of-ngrams model. */
  private def dsirFeatures(docs: DataFrame, buckets: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(buckets == 256,
      s"dsirFeatures: bucket hash reads exactly 2 hex chars (= 256 buckets), got $buckets")
    val t = tokens(col("text"))
    val n1 = greatest(size(t) - 1, lit(0))
    val bi = zip_with(slice(t, lit(1), n1), slice(t, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    docs
      .select(col("doc_id") +: carry.map(col) :+ explode(concat(t, bi)).as("term"): _*)
      .withColumn("b",
        conv(substring(md5(col("term").cast(BinaryType)), 1, 2), 16, 10)
          .cast(IntegerType))
      .drop("term")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): score every raw document by how target-like it is,
    * log w(x) = log p_target(x) − log p_raw(x), under bag-of-hashed-
    * ngram multinomial models estimated from the corpus itself
    * (`isTarget` marks the target slice; raw = everything). Laplace-α
    * smoothing on both models; a doc's score is the sum of its
    * occurrences' per-bucket log-ratios.
    *
    * 100 TB shape — the two passes DSIR inherently needs (fit, then
    * score) and NOTHING more: one corpus scan aggregates the feature
    * stream straight to `buckets` rows carrying raw and target counts
    * side by side (map-side partial combine caps the exchange at
    * partitions × buckets), the model finishes on the DRIVER over
    * those `buckets` rows (the bounded-training-collect discipline the
    * quantizer and BPE trainer use — totals and smoothing are per-
    * bucket arithmetic, not corpus work), and the λ table broadcast-
    * joins back onto the second scan's stream, so the only data-sized
    * exchange is the per-doc final aggregate (map-side partials make
    * it ≤ one row per doc per task). No UDF, no window, no third scan
    * (a lazily-chained totals aggregate would silently re-run the
    * corpus count lineage — the collect pins the scan count at two). */
  def dsirLogWeights(docs: DataFrame, isTarget: Column,
      alpha: Double = 0.5): DataFrame =
    dsirScoreWith(docs, dsirFit(docs, isTarget, alpha))

  /** 256 everywhere: the occurrence hash reads exactly 2 md5 hex chars
    * (see [[dsirFeatures]]), so the bucket count is a property of the
    * hashing, not a tuning knob — exposing it as a parameter would be
    * a compile-clean runtime trap (review r16). */
  private val DsirBuckets = 256

  /** The FIT half: one corpus scan to per-bucket (raw, target) counts,
    * totals and Laplace smoothing finished on the driver over the
    * collected rows, λ handed back as a broadcastable table. The table
    * carries ALL 256 buckets — unseen ones at their smoothed floor
    * ln(α/(tt+αB)) − ln(α/(tr+αB)) — so scoring a corpus the fit never
    * saw still scores every occurrence (review r16: an inner join to
    * an observed-only λ silently dropped unseen-bucket occurrences,
    * and with them whole docs from a frozen-λ gate). Split out so the
    * model can be trained ONCE offline and served frozen
    * ([[trainDsir]] / [[loadDsir]] — the TokenizerStore cadence). */
  def dsirFit(docs: DataFrame, isTarget: Column,
      alpha: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = DsirBuckets
    val counts = dsirFeatures(docs.withColumn("is_t", isTarget), buckets,
        carry = Seq("is_t"))
      .groupBy(col("b")).agg(
        count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .as[(Int, Long, Long)].collect()
    val byBucket = counts.map(c => c._1 -> c).toMap
    val tr = counts.map(_._2).sum
    val tt = counts.map(_._3).sum
    (0 until buckets).map { b =>
      val (_, cr, ct) = byBucket.getOrElse(b, (b, 0L, 0L))
      (b, math.log((ct + alpha) / (tt + alpha * buckets)) -
        math.log((cr + alpha) / (tr + alpha * buckets)))
    }.toDF("b", "lam")
  }

  /** The SCORE half: map-only against a (frozen or just-fit) λ table —
    * the occurrence stream broadcast-joins λ and sums per doc. λ from
    * [[dsirFit]] covers the full 256-bucket hash range, so every
    * occurrence of every doc scores — including docs the fit corpus
    * never saw. */
  def dsirScoreWith(docs: DataFrame, lam: DataFrame): DataFrame =
    dsirFeatures(docs, DsirBuckets)
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_feats"),
        sum(col("lam")).as("logw"))

  /** Persist a fitted λ table (256 rows) — the artifact a streaming
    * gate serves from. */
  def trainDsir(docs: DataFrame, isTarget: Column, dir: String): Unit =
    dsirFit(docs, isTarget).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lam")

  /** The frozen λ table (explicit schema: a schemaless read costs one
    * inference job per call — the IndexStore.load discipline). */
  def loadDsir(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("b INT, lam DOUBLE")
      .parquet(IndexStore.requireTable(spark, dir, "lam"))

  /** Deterministic Gumbel perturbation for [[dsirSample]]'s top-k:
    * g = −ln(−ln(u)) with u a salted-md5 uniform in (0,1) — the same
    * replay-anywhere uniform [[sampleByWeight]] thresholds on, so the
    * "random" resample is a pure function of doc_id that DuckDB
    * restates exactly. */
  private def gumbelKey(salt: String): Column = {
    val u = (conv(substring(md5(concat(lit(s"$salt:"),
      col("doc_id").cast(StringType)).cast(BinaryType)), 1, 12), 16, 10)
      .cast(LongType).cast(DoubleType) + 0.5) / 281474976710656.0
    -log(-log(u))
  }

  /** The resample half of DSIR: keep the k docs with the largest
    * logw + Gumbel — exactly sampling-without-replacement proportional
    * to the importance weights (the Gumbel-top-k trick the paper
    * uses), made deterministic by the salted-md5 uniform. One
    * TakeOrderedAndProject bounds the exchange at k rows per
    * partition; the rank window then runs on k rows, not the corpus. */
  def dsirSample(weights: DataFrame, k: Int, salt: String = "dsir"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"dsirSample: k must be positive, got $k")
    val keyed = weights.withColumn("gkey", col("logw") + gumbelKey(salt))
    keyed.orderBy(col("gkey").desc, col("doc_id")).limit(k)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("gkey").desc, col("doc_id")))
        .cast(IntegerType))
      .select(col("rnk"), col("doc_id"), col("n_feats"), col("logw"), col("gkey"))
  }

  /** Shared CTE chain: the hashed-feature stream, the two models, the
    * per-doc log-weights — verbatim DSIR over `lang = 'en'` as the
    * target slice. */
  private[graft] val dsirWeightsCte =
    """toks AS (
      |  SELECT doc_id, lang,
      |    string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id, lang = 'en' AS is_t,
      |    unnest(w || [w[i+1] || ' ' || w[i+2] for i in range(len(w) - 1)]) AS term
      |  FROM toks),
      |occb AS (
      |  SELECT doc_id, is_t,
      |    (strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 16
      |  + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) AS b
      |  FROM occ),
      |cnt AS (
      |  SELECT b, COUNT(*) AS cr, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      |  FROM occb GROUP BY b),
      |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM cnt),
      |lam AS (
      |  SELECT b, ln((ct + 0.5) / (tt + 0.5 * 256))
      |         - ln((cr + 0.5) / (tr + 0.5 * 256)) AS lam
      |  FROM cnt, tot),
      |wts AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_feats,
      |    SUM(lam) AS logw
      |  FROM occb JOIN lam USING (b) GROUP BY doc_id)""".stripMargin

  private def xcDsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirLogWeights(Tables.load(spark, dir, "documents"), col("lang") === "en")
      .orderBy(col("doc_id"))

  private val xcDsirWeightsSql =
    s"""WITH $dsirWeightsCte
       |SELECT doc_id, n_feats, logw FROM wts ORDER BY doc_id""".stripMargin

  private def xcDsirSample(spark: SparkSession, dir: String): DataFrame =
    dsirSample(
      dsirLogWeights(Tables.load(spark, dir, "documents"), col("lang") === "en"),
      k = 100)

  /** Same uniform as the Spark side: first 48 bits of
    * md5('dsir:' || doc_id), +0.5, over 2⁴⁸. */
  private val xcDsirSampleSql = {
    val hexval = (0 until 12).map { i =>
      s"(strpos('0123456789abcdef', substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}"
    }.mkString("\n      + ")
    s"""WITH $dsirWeightsCte,
       |keyed AS (
       |  SELECT doc_id, n_feats, logw,
       |    logw + -ln(-ln((($hexval) + 0.5) / 281474976710656.0)) AS gkey
       |  FROM wts)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id) AS INTEGER) AS rnk,
       |  doc_id, n_feats, logw, gkey
       |FROM keyed ORDER BY gkey DESC, doc_id LIMIT 100""".stripMargin
  }

  val all: Seq[Declared] = Seq(
    Declared("xc_dsir_weights", xcDsirWeights, Some(xcDsirWeightsSql)),
    Declared("xc_dsir_sample", xcDsirSample, Some(xcDsirSampleSql)),
    Declared("xc_perplexity_bucket", xcPerplexityBucket, Some(xcPerplexityBucketSql)),
    Declared("xc_gopher_rules", xcGopherRules, Some(xcGopherRulesSql)),
    Declared("xc_stratified", xcStratified, Some(xcStratifiedSql)),
    Declared("xc_pipeline_full", xcPipelineFull, Some(xcPipelineFullSql)),
    Declared("xc_split", xcSplit, Some(xcSplitSql)),
    Declared("xc_split_leakage", xcSplitLeakage, Some(xcSplitLeakageSql)),
    Declared("xc_split_leakfree", xcSplitLeakfree, Some(xcSplitLeakfreeSql)),
    Declared("xc_contamination", xcContamination, Some(xcContaminationSql)),
    Declared("xc_bloom_decontaminate", xcBloomDecontaminate, Some(xcBloomDecontaminateSql)),
    Declared("xc_repetition", xcRepetition, Some(xcRepetitionSql)),
    Declared("xc_gopher_repetition", xcGopherRepetition, Some(xcGopherRepetitionSql)),
    Declared("xc_signal_table", xcSignalTable, Some(xcSignalTableSql)),
    Declared("xc_domain_mix", xcDomainMix, Some(xcDomainMixSql)),
    Declared("xc_temperature_mix", xcTemperatureMix, Some(xcTemperatureMixSql)),
    Declared("xc_token_budget", xcTokenBudget, Some(xcTokenBudgetSql)),
    Declared("xc_sample", xcSample, Some(xcSampleSql)),
    Declared("xc_upsample", xcUpsample, Some(xcUpsampleSql)),
    Declared("xc_quantize", xcQuantize, Some(xcQuantizeSql)),
    Declared("xc_pack", xcPack, Some(xcPackSql)),
    Declared("xc_pack_ids", xcPackIds, Some(xcPackIdsSql)),
    Declared("xc_pack_bounds", xcPackBounds, Some(xcPackBoundsSql)),
    Declared("xc_pack_shard", xcPackShard, Some(xcPackShardSql)),
    Declared("xc_shard", xcShard, Some(xcShardSql)),
    Declared("xc_keep_best", xcKeepBest, Some(xcKeepBestSql)),
    Declared("xc_substring_keep_best", xcSubstringKeepBest, Some(xcSubstringKeepBestSql)),
    Declared("xc_pipeline", xcPipeline, Some(xcPipelineSql)))
}
