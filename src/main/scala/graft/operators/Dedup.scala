package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Deduplication operators for a training-data pipeline (SURVEY.md §2B X1).
  *
  * All paths are shuffle-friendly set operations — no cross joins:
  *  - exact: hash groupBy on a normalized key,
  *  - near-dup: MinHash signatures + LSH banding so only same-bucket
  *    candidates are joined, then exact Jaccard verification on the
  *    (tiny) candidate set. At 100 TB the candidate join is the only
  *    pairwise work and its size is O(true pairs + banding false
  *    positives), not O(n²),
  *  - SimHash: 64-bit fingerprint whose Hamming distance tracks cosine
  *    similarity of the token multiset; banding over 16-bit chunks finds
  *    all pairs within Hamming ≤ 3 by pigeonhole,
  *  - embedding near-dup: exact pairwise cosine as a distributed triangle
  *    block-join — O(1) driver memory at any corpus size; LSH pre-pruning
  *    ([[Similarity.annCandidates]]) only applies at high thresholds.
  */
object Dedup {

  /** Whitespace-collapsed lowercase normalization — the dedup key. */
  def normText(text: Column): Column =
    trim(lower(regexp_replace(text, "\\s+", " ")))

  /** Word tokens of the normalized text. */
  def tokens(text: Column): Column = split(normText(text), " ")

  /** Distinct 5-word shingles; short docs collapse to one whole-text
    * shingle (mirrors the DuckDB oracle expression exactly). */
  def shingles(text: Column): Column = {
    val w = tokens(text)
    when(size(w) < 5, array(concat_ws(" ", w)))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(w) - 5),
          i => concat_ws(" ", slice(w, i + lit(1), lit(5))))))
  }

  // ------------------------------------------------------------- exact
  private def x1Exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy(normText($"text").as("norm"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies")
      .orderBy($"doc_id")
  }

  private val x1ExactSql =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY trim(lower(regexp_replace(text, '\s+', ' ', 'g')))
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- minhash + LSH
  /** 128 MinHash permutations (splitmix64 re-mixes of the shingle hash),
    * banded 32×4: P(candidate | J=0.8) = 1-(1-0.8⁴)³² ≈ 1-5e-8 — no
    * misses at the declared threshold. */
  private val MinhashK = 128
  private val Bands = 32
  private val RowsPerBand = MinhashK / Bands

  /** Per-doc shingle hash set + MinHash signature + LSH band hashes, all
    * in one typed map pass — no explode, no aggregation, no shuffle.
    * Shingling, k minima and band folding are tight primitive loops over
    * one JIT'd function; the column-expression formulation (explode 400
    * shingles/doc → 128 hash aggregates) was ~10× slower and shuffled
    * the whole shingle stream.
    *
    * Shingles are carried as 64-bit hashes: Jaccard on hash sets equals
    * Jaccard on string sets up to hash collisions (~2⁻⁶⁴ per pair —
    * negligible even at 100 TB). Tokenization (trim/lower/split-on-\s+)
    * mirrors [[normText]]+split byte-for-byte on ASCII.
    */
  /** Word 5-gram shingle hashes of the normalized text (whole doc if
    * shorter). */
  /** The STRING form of [[shingles]] as a primitive kernel — for
    * consumers that need the shingle text itself (x4_kmv_jaccard hashes
    * it with md5 for oracle parity) rather than the 64-bit
    * [[wordShingleHashes]]. Same semantics as the Column expression
    * (whitespace-collapse + lowercase + trim, <5 tokens → one
    * whole-text shingle, per-doc distinct) — `DedupSpec` pins kernel ≡
    * expression on the fixture. Exists because the higher-order-
    * function expression tree (transform/sequence/array_distinct/
    * concat_ws) does not codegen: measured 4-5.5 s for 250k shingles
    * at sf0.1 vs ~0.3 s for this loop (the round-1 minhash lesson,
    * again). */
  private[graft] def wordShingleStrings(text: String): Array[String] = {
    val s = text.replaceAll("\\s+", " ").toLowerCase(java.util.Locale.ROOT).trim
    val toks = s.split(" ")
    if (toks.length < 5) Array(s)
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i <= toks.length - 5) {
        val sb = new java.lang.StringBuilder(64)
        var j = 0
        while (j < 5) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      seen.toArray(new Array[String](seen.size()))
    }
  }

  private[graft] def wordShingleHashes(text: String): Array[Long] = {
    import graft.functions.Hashing._
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { th(i) = stringHash(toks(i)); i += 1 }
    val n = if (toks.length < 5) 1 else toks.length - 4
    val raw = new Array[Long](n)
    i = 0
    while (i < n) {
      var h = FnvOffset
      var j = 0
      val m = if (toks.length < 5) toks.length else 5
      while (j < m) { h = combine(h, th(i + j)); j += 1 }
      raw(i) = mix64(h)
      i += 1
    }
    raw
  }

  /** Character n-gram hashes of the whitespace-collapsed lowercase text
    * (whole doc if shorter) — finer-grained similarity than word
    * shingles, robust to word-boundary edits. N-grams are CODEPOINT
    * n-grams (surrogate pairs count once), matching the DuckDB oracle's
    * codepoint-based substr/length — indexing UTF-16 units would make
    * both the shingles and the short-doc guard diverge on non-BMP text. */
  private[operators] def charNgramHashes(text: String, n: Int): Array[Long] = {
    import graft.functions.Hashing._
    // Locale.ROOT: default-locale lowercasing (Turkish dotless-i etc.)
    // would diverge from Spark's lower() and the oracle per machine
    val s = text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val m = s.codePointCount(0, s.length)
    if (m < n) Array(stringHash(s))
    else {
      val cps = new Array[Int](m)
      var ci = 0
      var si = 0
      while (si < s.length) {
        val cp = s.codePointAt(si)
        cps(ci) = cp
        ci += 1
        si += Character.charCount(cp)
      }
      val raw = new Array[Long](m - n + 1)
      var i = 0
      while (i < raw.length) {
        var h = FnvOffset
        var j = 0
        while (j < n) { h = (h ^ cps(i + j)) * FnvPrime; j += 1 }
        raw(i) = mix64(h)
        i += 1
      }
      raw
    }
  }

  /** @param rowsPerBand banding granularity: 4 (32 bands) for
    *   low-background shingle spaces (word 5-grams, background J≈0);
    *   8 (16 bands) when the background Jaccard is substantial (char
    *   n-grams over a small vocabulary) — r=4 banding would make a
    *   quarter of ALL pairs candidates at background J≈0.3, an O(n²)
    *   explosion at scale. */
  private[graft] def shingleAndSign(
      docs: DataFrame, shingler: String => Array[Long],
      rowsPerBand: Int = RowsPerBand): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.functions.Hashing._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, text) =>
      val raw = shingler(text)
      val n = raw.length
      java.util.Arrays.sort(raw)
      var uniq = 0
      var i = 0
      while (i < n) { if (i == 0 || raw(i) != raw(i - 1)) { raw(uniq) = raw(i); uniq += 1 }; i += 1 }
      val sh = java.util.Arrays.copyOf(raw, uniq)
      // 128 running minima over the deduped shingle hashes
      val sig = Array.fill(MinhashK)(Long.MaxValue)
      i = 0
      while (i < uniq) {
        var p = 0
        while (p < MinhashK) {
          val v = mixSeeded(sh(i), p)
          if (v < sig(p)) sig(p) = v
          p += 1
        }
        i += 1
      }
      // fold each r-row band to one hash
      val nBands = MinhashK / rowsPerBand
      val bands = new Array[Long](nBands)
      var b = 0
      while (b < nBands) {
        var h = FnvOffset
        var r = 0
        while (r < rowsPerBand) { h = combine(h, sig(b * rowsPerBand + r)); r += 1 }
        bands(b) = mix64(h)
        b += 1
      }
      (id, sh, bands)
    }.toDF("doc_id", "sh", "bands")
  }

  /** LSH candidate pairs: docs sharing at least one band hash. A keyed
    * equi-join on (band, hash) — the only pairwise work is within
    * buckets, O(true pairs + banding false positives), never O(n²). */
  def lshCandidates(shingled: DataFrame): DataFrame = {
    val banded = shingled
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bh")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Near-dup pairs at Jaccard ≥ `threshold`, exact-verified on the LSH
    * candidate set (intersection of the full shingle-hash sets, not the
    * sketch). */
  def neardupMinhash(docs: DataFrame, threshold: Double = 0.8,
      shingler: String => Array[Long] = wordShingleHashes,
      rowsPerBand: Int = RowsPerBand): DataFrame = {
    val shingled = shingleAndSign(docs, shingler, rowsPerBand)
    val sh = shingled.select(col("doc_id"), col("sh"))
    lshCandidates(shingled)
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private def x1Minhash(spark: SparkSession, dir: String): DataFrame =
    neardupMinhash(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Character 8-gram Jaccard variant, threshold 0.85. n=8 (not 3) and
    * 16×8 banding because this corpus's small vocabulary gives char
    * 3-grams a background Jaccard of 0.65-0.73 — with the word-shingle
    * banding nearly every pair became an LSH candidate (52 s at sf0.1
    * for what is now sub-second of candidate work). At n=8 the
    * background tops out ≈0.31 while true near-dups stay ≥0.93, and r=8
    * banding makes P(candidate) ≈ 4e-6 at background vs ≈ 1 at the
    * threshold. */
  private def x1CharNgram(spark: SparkSession, dir: String): DataFrame =
    neardupMinhash(Tables.load(spark, dir, "documents"), 0.85,
      charNgramHashes(_, 8), rowsPerBand = 8)
      .orderBy(col("doc_a"), col("doc_b"))

  private val x1CharNgramSql =
    """WITH s AS (
      |  SELECT doc_id, CASE WHEN length(norm) < 8 THEN [norm]
      |    ELSE list_distinct([substr(norm, i+1, 8) for i in range(length(norm)-7)]) END sh
      |  FROM (SELECT doc_id, trim(lower(regexp_replace(text,'\s+',' ','g'))) norm
      |        FROM documents))
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id) p
      |WHERE jaccard >= 0.85
      |ORDER BY doc_a, doc_b""".stripMargin

  // the oracle verifies the WHOLE pipeline end-to-end against an exact
  // O(n²) Jaccard — any banding miss would show as a missing row.
  private val x1MinhashSql =
    """WITH s AS (
      |  SELECT doc_id, CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
      |    ELSE list_distinct([array_to_string(w[i+1:i+5], ' ') for i in range(len(w)-4)]) END sh
      |  FROM (SELECT doc_id,
      |          string_split(trim(lower(regexp_replace(text,'\s+',' ','g'))), ' ') w
      |        FROM documents))
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM s a JOIN s b ON a.doc_id < b.doc_id) p
      |WHERE jaccard >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------------- simhash
  /** 64-bit SimHash of the token multiset: per-bit majority vote of
    * xxhash64(token). Identical token multisets → identical fingerprints;
    * small edits flip few bits. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val votes = (0 until 64).map { j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val assembled = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** All pairs within Hamming distance ≤ 3, found via 4×16-bit banding
    * (pigeonhole: ≤3 differing bits leave ≥1 band identical) — a keyed
    * equi-join, never a cross join. */
  def simhashNeardup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = simhash(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("band", "chunk")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------ portable (oracled) simhash
  /** Engine-portable SimHash: token bits come from the md5 hex digest
    * (bit j = bit j%4 of hex nibble j/4), so DuckDB reproduces the
    * fingerprint bit-for-bit and the oracle checks the WHOLE computation
    * — tokenization, per-bit majority vote, assembly. The fingerprint is
    * emitted as a 16-char hex string (nibble 0 first) to stay unsigned-
    * safe in both engines. [[simhash]] (xxhash64) remains the cheaper
    * production fingerprint; the dataflow is identical.
    */
  def simhashPortable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // fused typed-map kernel (the minhash lesson, BENCHNOTES.md #2): one
    // JIT'd pass per doc — tokenize, MD5 per token, 64 vote counters,
    // nibble assembly — no explode, no 64-sum aggregate, NO shuffle.
    // java.security MD5 produces the same digest bytes as Spark's md5()/
    // DuckDB's md5(), so the fingerprint is bit-identical to the oracle.
    docs.select(col("doc_id"), col("text")).as[(Long, String)].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) => (id, simhashPortableOne(md, text)) }
    }.toDF("doc_id", "simhash")
  }

  /** The per-doc kernel of [[simhashPortable]] — one JIT'd pass:
    * tokenize, MD5 per token, 64 vote counters, nibble assembly. The
    * caller owns the (reusable, non-serializable) digest so partition
    * iterators amortize it. */
  private[graft] def simhashPortableOne(
      md: java.security.MessageDigest, text: String): String = {
    val hex = "0123456789abcdef"
    // same tokens as tokens(): collapse-\s+ then split ≡ split on \s+
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val votes = new Array[Int](64)
    var ti = 0
    while (ti < toks.length) {
      md.reset()
      val d = md.digest(toks(ti).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        // hex nibble j/4 of the digest: even index = high nibble
        val ni = j / 4
        val b = d(ni / 2)
        val nib = if (ni % 2 == 0) (b >> 4) & 0xf else b & 0xf
        votes(j) += (if (((nib >> (j % 4)) & 1) == 1) 1 else -1)
        j += 1
      }
      ti += 1
    }
    val out = new Array[Char](16)
    var i = 0
    while (i < 16) {
      var nib = 0
      var b = 0
      while (b < 4) { if (votes(i * 4 + b) > 0) nib |= (1 << b); b += 1 }
      out(i) = hex.charAt(nib)
      i += 1
    }
    new String(out)
  }

  /** All pairs within Hamming ≤ 3 over the portable fingerprint, via the
    * same 4×16-bit pigeonhole banding as [[simhashNeardup]]. The hex
    * fingerprint is decoded to four 16-bit Long chunks ONCE per doc in a
    * projection below the band explode (conv/substring are codegen'd but
    * not free — doing this per candidate pair measurably slowed the
    * verify stage, and a UDF breaks codegen entirely); the band key is
    * then a Long equi-join and per-pair work is just bit_count(xor),
    * all inside WholeStageCodegen. */
  def simhashPortableNeardup(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = (0 until 4).map(i => s"c$i")
    val pre = simhashPortable(docs).select(
      col("doc_id") +: (0 until 4).map(i =>
        conv(substring(col("simhash"), i * 4 + 1, 4), 16, 10)
          .cast(LongType).as(s"c$i")): _*)
    val banded = pre.select(
      col("doc_id") +: chunks.map(col) :+
        posexplode(array(chunks.map(col): _*)).as(Seq("band", "chunk")): _*)
    val hamming = (0 until 4).map(i =>
      bit_count(col(s"a.c$i").bitwiseXOR(col(s"b.c$i")))).reduce(_ + _)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  private def x1Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashPortable(Tables.load(spark, dir, "documents")).orderBy(col("doc_id"))

  private def x1SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPortableNeardup(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** DuckDB reproduction of the md5-bit SimHash (shared CTE text): 64
    * SUM(CASE) majority votes over unnested tokens, nibble-assembled into
    * the same hex string. */
  private val simhashOracleCte = {
    val votes = (0 until 64).map { j =>
      s"SUM(CASE WHEN (((strpos('0123456789abcdef', substr(h,${j / 4 + 1},1))-1) >> ${j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$j"
    }.mkString(", ")
    val chars = (0 until 16).map { i =>
      val nibVal = (0 until 4)
        .map(b => s"(CASE WHEN v${i * 4 + b} > 0 THEN ${1 << b} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', 1 + $nibVal, 1)"
    }.mkString(" || ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(t) AS h FROM (
       |    SELECT doc_id,
       |      unnest(string_split(trim(lower(regexp_replace(text,'\\s+',' ','g'))), ' ')) AS t
       |    FROM documents)),
       |v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id),
       |f AS (SELECT doc_id, $chars AS simhash FROM v)""".stripMargin
  }

  private val x1SimhashSql =
    s"""$simhashOracleCte
       |SELECT doc_id, simhash FROM f ORDER BY doc_id""".stripMargin

  private val x1SimhashPairsSql = {
    val ham = (0 until 16).map { i =>
      s"bit_count(xor(strpos('0123456789abcdef', substr(a.simhash,${i + 1},1))-1, " +
        s"strpos('0123456789abcdef', substr(b.simhash,${i + 1},1))-1))"
    }.mkString(" + ")
    s"""$simhashOracleCte
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST($ham AS INTEGER) AS hamming
       |  FROM f a JOIN f b ON a.doc_id < b.doc_id) p
       |WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- embedding cosine neardup
  /** Exact pairwise cosine pairs ≥ threshold, as a distributed triangle
    * block-join — no driver `collect()`, no broadcast of the corpus.
    *
    * Each vector lands in one of B blocks (`vec_id % B`); a block is
    * materialized as ONE row (array of id/vector/norm triples), and every
    * unordered block pair (i ≤ j) is realized exactly once by a keyed
    * equi-join on (ba, bb): the a-side replicates block i to keys
    * (i, i..B-1), the b-side replicates block j to keys (0..j, j). Each
    * joined row holds two whole blocks and the kernel nested-loops them
    * with a primitive double[] dot (~100× faster than interpreted
    * `zip_with`/`aggregate` lambdas per pair) — so the shuffle carries
    * B(B+1) block rows, never n² vector-pair rows. Norms are computed
    * once per vector before replication; per-task memory is bounded by
    * 2·rowsPerBlock vectors.
    *
    * Scale posture: exact all-pairs is inherently O(n²) flops; this shape
    * distributes that work across the cluster with O(B) row replication
    * and O(rowsPerBlock²) pairs per task — driver memory stays O(1). LSH
    * pre-pruning ([[Similarity.annCandidates]]) is NOT a correct shortcut
    * at low thresholds: at cos ≥ 0.4 a hyperplane bit agrees with
    * p = 1 − acos(0.4)/π ≈ 0.63, and any banding with usable recall there
    * admits nearly all random pairs too — prune only when the threshold
    * (and thus p) is high, e.g. ≥ 0.9. */
  def embeddingNeardup(emb: DataFrame, threshold: Double,
      rowsPerBlock: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // distributed count only (O(1) driver result) — sizes the block grid.
    // Floor of 8 blocks (36 grid keys) keeps small corpora parallel: with
    // B blocks the join has B(B+1)/2 keys, and 2 blocks = 3 tasks would
    // serialize the O(n²) kernel work regardless of cluster size.
    val n = emb.select(col("vec_id")).count()
    val nBlocks = math.max((n + rowsPerBlock - 1) / rowsPerBlock,
      math.min(n, 8L)).max(1L).toInt
    // raw-double dot then divide by the norm product, left-to-right — the
    // same fp order as the SQL oracle, so results are bit-comparable.
    // one row PER BLOCK (id, widened vector, norm triples) — the join
    // then shuffles B(B+1)/2 block-pair rows, not n² vector-pair rows,
    // and all pairwise flops run inside the kernel on plain arrays.
    val blocks = emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val d = Kernels.widen(v)
        (id, (id % nBlocks).toInt, d, math.sqrt(Kernels.dotd(d, d)))
      }
      .groupByKey(_._2)
      .mapGroups { (blk, it) => (blk, it.map(t => (t._1, t._3, t._4)).toArray) }
    val a = blocks.flatMap { case (blk, arr) =>
      Iterator.range(blk, nBlocks).map(bb => (blk, bb, arr))
    }.toDF("ba", "bb", "block_a")
    val b = blocks.flatMap { case (blk, arr) =>
      Iterator.range(0, blk + 1).map(ba => (ba, blk, arr))
    }.toDF("ba2", "bb2", "block_b")
    // same-block pairs appear in both orientations → keep ida < idb there;
    // cross-block pairs appear in exactly one orientation → keep always
    // (normalized to (min, max); dot and the norm product are bitwise
    // orientation-symmetric).
    a.join(b, col("ba") === col("ba2") && col("bb") === col("bb2"))
      .select(col("ba"), col("bb"), col("block_a"), col("block_b"))
      .as[(Int, Int, Array[(Long, Array[Double], Double)], Array[(Long, Array[Double], Double)])]
      .flatMap { case (ba, bb, xs, ys) =>
        val same = ba == bb
        xs.iterator.flatMap { case (ida, va, na) =>
          ys.iterator
            .filter { case (idb, _, _) => !same || ida < idb }
            .flatMap { case (idb, vb, nb) =>
              val cos = Kernels.dotd(va, vb) / (na * nb)
              if (cos >= threshold) {
                Some(if (ida < idb) (ida, idb, cos) else (idb, ida, cos))
              } else None
            }
        }
      }.toDF("vec_a", "vec_b", "cosine")
  }

  private def x1Embedding(spark: SparkSession, dir: String): DataFrame =
    embeddingNeardup(Tables.load(spark, dir, "embeddings"), 0.4)
      .orderBy(col("vec_a"), col("vec_b"))

  private val x1EmbeddingSql =
    """SELECT vec_a, vec_b, cosine FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cosine
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) p
      |WHERE cosine >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // --------------------------------------------- dedup clustering (CC)
  /** Connected components over an undirected near-dup pair graph —
    * the step production dedup needs BETWEEN pair mining and output:
    * near-duplication is transitive in practice (A≈B, B≈C ⇒ one
    * cluster), so the keeper is one doc per COMPONENT, not per pair.
    * Every doc gets `cluster_id` = the smallest doc_id reachable from
    * it (singletons keep their own id).
    *
    * Each round combines min-label propagation (every vertex takes
    * min(own, neighbors' labels) — one keyed join + partial-agg min)
    * with POINTER JUMPING (each label then re-resolves through its
    * representative's own label — path halving), so label information
    * travels 2^k hops after k rounds and the loop converges in
    * O(log diameter) rounds, not O(diameter): the sf0.1 embedding
    * graph's deep cos ≥ 0.4 components converge in 5 rounds where
    * plain propagation took ~20. The driver sees only the per-round
    * changed-count (a Long), never data.
    *
    * Round results are `localCheckpoint`ed, not merely persisted: the
    * loop references the previous labels multiple times per round, so
    * carrying lineage would MULTIPLY the logical plan every round —
    * exponential analyzer/explain cost that overflows the heap near
    * ~20 rounds (observed before the truncation). Checkpointing to the
    * materialized blocks keeps every round's plan O(1) — the standard
    * Spark idiom for Pregel-style iteration, at the price that executor
    * loss forces a job restart (acceptable: rounds are idempotent and
    * restart-from-batch is how dedup jobs run anyway). Pass
    * `checkpointDir` to snapshot each round to RELIABLE storage
    * (`df.checkpoint()`) instead: rounds then survive executor loss —
    * the right trade for a multi-hour 100 TB run on preemptible
    * hardware, at the price of a write to the checkpoint filesystem
    * per round. SIDE EFFECT: reliable checkpointing requires
    * `sparkContext.setCheckpointDir`, which is SESSION-GLOBAL — for
    * the duration of the loop, concurrent jobs in the same session
    * that call `df.checkpoint()` will write under this operator's
    * per-run subdirectory (`checkpointDir/dedup-clusters-<uuid>`).
    * On exit — converged OR thrown, any exception (a Spark job
    * failure mid-round included, the likely case on the preemptible
    * clusters this mode targets) — the session checkpoint dir is
    * restored: to the previously-set dir, or to the caller's BASE
    * `checkpointDir` when none was set (Spark has no unset API, and
    * pointing later `df.checkpoint()` calls at the caller's base beats
    * leaving them on this run's private subdir).
    *
    * Cleanup of the per-run subdirectory differs by exit path. On
    * FAILURE the whole subdir is deleted — partial round state is
    * worthless. On SUCCESS the FINAL round's reliable snapshot is kept,
    * because the returned DataFrame reads from it: re-snapshotting
    * locally and deleting it (the round-7 behavior) would convert the
    * result to unreplicated executor-local blocks with truncated
    * lineage — losing one executor between return and the caller's
    * materialization would make the result unrecoverable, exactly the
    * failure reliable mode exists to survive. Prior rounds' snapshots
    * are pruned INCREMENTALLY, each round deleting the previous round's
    * snapshot by its EXACT resolved path (the checkpointed RDD's
    * `getCheckpointFile`, found by walking the returned frame's RDD
    * lineage) the moment the new checkpoint has materialized — so a
    * multi-hour run holds at most two labels copies in reliable storage
    * instead of one per round, and the prune can never delete a
    * concurrent job's snapshot (or the final result) the way a
    * keep-highest-`rdd-N` glob could: an unresolvable path means
    * "leak it", never "guess". The surviving subdir holds ONE labels
    * copy (~16 B/doc); the caller owns deleting it once the result is
    * written out — use [[dedupClustersManaged]] to get the directory
    * handle and a `cleanup()` that does exactly that.
    *
    * `maxRounds` bounds the loop: pointer jumping converges in
    * ⌈log₂(diameter)⌉ + small-constant rounds, so the default 64
    * accommodates any graph whose diameter fits in a Long — hitting it
    * means the label state is oscillating (a bug or data corruption,
    * not a big graph) and the loop fails LOUDLY instead of spinning
    * a cluster forever.
    */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 64, checkpointDir: Option[String] = None): DataFrame =
    dedupClustersManaged(docs, pairs, maxRounds, checkpointDir).labels

  /** Converged labels plus the handle the reliable-mode cleanup
    * contract needs: on success the final round's snapshot survives
    * under `snapshotDir` and the returned `labels` read from it (see
    * [[dedupClusters]]). Call `cleanup()` once the labels have been
    * materialized (written out or collected) to delete it — deleting
    * earlier dangles the DataFrame on missing files. `snapshotDir` is
    * `None` in local-checkpoint mode, where `cleanup()` is a no-op. */
  final case class ClusterLabels(labels: DataFrame, snapshotDir: Option[String]) {
    def cleanup(): Unit = snapshotDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(labels.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  /** [[dedupClusters]] with the surviving-snapshot handle exposed. */
  def dedupClustersManaged(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int = 64, checkpointDir: Option[String] = None): ClusterLabels = {
    val sp = docs.sparkSession
    val sc = sp.sparkContext
    // per-run subdir so cleanup after convergence cannot delete another
    // job's snapshots; the previous dir is restored on exit (see scaladoc
    // — setCheckpointDir is session-global for the loop's duration)
    val prevCkDir = sc.getCheckpointDir
    val runCkDir = checkpointDir.map { base =>
      val d = s"$base/dedup-clusters-${java.util.UUID.randomUUID()}"
      sc.setCheckpointDir(d)
      d
    }
    def restoreDir(): Unit = checkpointDir.foreach { base =>
      sc.setCheckpointDir(prevCkDir.getOrElse(base))
    }
    def deletePath(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
    def deleteRunDir(): Unit = runCkDir.foreach(deletePath)
    // exact reliable-snapshot path of a just-checkpointed frame: the
    // checkpointed RDD's getCheckpointFile, found by walking the RDD
    // lineage (checkpoint(eager=true) has already swapped the deps to
    // the CheckpointRDD by the time this runs). Resolving the EXACT
    // path — not globbing for the highest rdd-N, which a concurrent
    // df.checkpoint() in this session can outbid because
    // setCheckpointDir is session-global — is what makes the pruning
    // below safe: an unresolvable path means "don't delete".
    def checkpointFileOf(df: DataFrame): Option[String] = {
      def walk(r: org.apache.spark.rdd.RDD[_]): Option[String] =
        r.getCheckpointFile.orElse(
          r.dependencies.iterator.map(d => walk(d.rdd))
            .collectFirst { case Some(p) => p })
      try walk(df.rdd) catch { case scala.util.control.NonFatal(_) => None }
    }
    var liveSnapPath: Option[String] = None
    // EAGER local checkpoint, kept after an r21 A/B (guide §2.4): the
    // lazy form (count() as the one materializing job per round —
    // halving driver barriers) measured ~1.5× SLOWER on xc_keep_best's
    // warm min (3.57 vs 2.39 s) with x1_dedup_clusters flat, so the
    // second job per round is cheaper than whatever the lazy
    // mark-then-materialize path costs here; two barriers stay.
    def snap(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        val out = df.checkpoint()
        val newPath = checkpointFileOf(out)
        // the previous round's snapshot is unreferenced once the new
        // checkpoint has materialized (checkpoint truncates lineage):
        // delete it now, so the loop holds at most TWO labels copies in
        // reliable storage instead of one per round
        (liveSnapPath, newPath) match {
          case (Some(old), Some(nw)) if old != nw => deletePath(old)
          case _ => () // unresolved: leak a snapshot rather than risk live data
        }
        liveSnapPath = newPath.orElse(liveSnapPath)
        out
      } else df.localCheckpoint()
    // symmetrize by exploding each pair into both orientations — ONE
    // evaluation of the (possibly expensive) pair-mining plan; the
    // union-of-two-selects form would compute `pairs` twice when the
    // persisted edges first materialize
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .persist()
    var labels = snap(docs.select(col("doc_id"))
      .withColumn("cluster_id", col("doc_id")))
    var changed = 1L
    var rounds = 0
    // the round's persisted propagation frame, tracked so the failure
    // path can release it — an exception inside snap()/count() after
    // prop.persist() would otherwise leak the cache for the session
    var curProp: Option[DataFrame] = None
    try {
      while (changed > 0) {
        if (rounds >= maxRounds) {
          throw new IllegalStateException(
            s"dedupClusters failed to converge after $maxRounds rounds " +
              s"($changed labels still changing): pointer jumping needs only " +
              "~log2(graph diameter) rounds, so this indicates corrupt or " +
              "oscillating label state, not a large graph — inspect the pair " +
              "input (self-loops? non-doc_id labels?) before raising maxRounds")
        }
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("src"), col("cluster_id")), Seq("src"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        val prop = labels.select(col("doc_id"), col("cluster_id").as("_old"))
          .join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("_old"),
            least(col("_old"), coalesce(col("nbr_min"), col("_old"))).as("_mid"))
          // referenced on BOTH sides of the jump self-join below — persist
          // for the round or the propagation join+agg runs twice per round
          .persist()
        curProp = Some(prop)
        // pointer jump: follow _mid to ITS representative's label. Labels
        // are always real doc_ids of the same component, so the self-join
        // is total and only ever lowers the label.
        val next = snap(prop
          .join(prop.select(col("doc_id").as("_rep"), col("_mid").as("_rep_label")),
            col("_mid") === col("_rep"))
          .select(col("doc_id"), col("_rep_label").as("cluster_id"),
            (col("_rep_label") =!= col("_old")).as("_chg")))
        // eager snap materialized next from prop's cache; the count is
        // a cheap block scan. prop released only after the count so a
        // lazy-snap experiment can't silently recompute it (r21).
        changed = next.filter(col("_chg")).count()
        prop.unpersist()
        curProp = None
        labels = next.drop("_chg")
        rounds += 1
      }
    } catch {
      // ANY failure — the maxRounds throw above, or a Spark job failure
      // mid-round (the expected case on preemptible executors): release
      // the edges, restore the session checkpoint dir, delete the whole
      // per-run subdir (partial round state is worthless), re-throw
      case e: Throwable =>
        curProp.foreach { p =>
          try p.unpersist(false)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        edges.unpersist()
        restoreDir()
        deleteRunDir()
        throw e
    }
    edges.unpersist()
    restoreDir()
    // the final round's reliable snapshot survives (incremental pruning
    // already deleted every prior round's) — the returned DataFrame
    // reads from it; ClusterLabels.cleanup() is the caller's handle
    ClusterLabels(labels, runCkDir)
  }

  /** Declared form: components of the word-5-gram minhash near-dup
    * graph (the x1_neardup_minhash pairs, whose own oracle is the full
    * O(n²) exact Jaccard), every doc labeled. */
  private def x1Clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    dedupClusters(docs, neardupMinhash(docs))
      .orderBy(col("doc_id"))
  }

  /** Transitive closure as a recursive CTE: reachability from every
    * node over the (symmetric) pair graph; cluster id = min reachable. */
  private val x1ClustersSql =
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
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
      |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY id
      |ORDER BY doc_id""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cosine near-dup pairs over the embedding column → connected
    * components → keep the lowest id per component. Composes the exact
    * block-grid pair miner with [[dedupClusters]]; `kept` marks the
    * component representative a pipeline would retain. */
  private def x1Semantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // 0.45 (vs x1_embedding_neardup's 0.4): on the gaussian fixture the
    // 0.4 graph at sf0.1 chains into deep components (920 edges/2000
    // nodes — many propagation rounds for no extra semantics); 0.45
    // keeps multi-node clusters at every SF (14 pairs at sf0.01, 144 at
    // sf0.1) with shallow components, which is also the realistic
    // SemDeDup regime (high-threshold near-identical groups).
    val pairs = embeddingNeardup(emb, 0.45)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    dedupClusters(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("kept"))
      .orderBy(col("vec_id"))
  }

  private val x1SemanticSql =
    """WITH RECURSIVE e0 AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |    (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.45),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |reach(id, r) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
      |SELECT id AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id,
      |  id = MIN(r) AS kept
      |FROM reach GROUP BY id
      |ORDER BY vec_id""".stripMargin

  // ------------------------------------- semantic dedup, cluster-pruned
  /** The SCALE path for [[x1Semantic]]: instead of mining cosine pairs
    * with the exact O(n²) block join (11× at the 10× sf1 probe — the
    * one contractual quadratic left in the dedup family), assign every
    * vector to its `nassign` nearest IVF centroids (map-only, centroids
    * broadcast — [[Similarity.kmeansCentroids]] reuse) and score pairs
    * only WITHIN a shared cluster: a keyed equi self-join on cluster id,
    * O(n²/nlist) cosines instead of O(n²), and the work is partitioned
    * by cluster — exactly how SemDeDup runs at corpus scale (Abbas et
    * al. 2023 cluster before comparing for the same reason).
    * Multi-assignment (`nassign` = 3 of `nlist` = 32, swept in BENCHNOTES
    * "Semantic-dedup scale path") is
    * the standard boundary fix: a near-dup pair split by a Voronoi edge
    * still shares one of its 2nd/3rd clusters almost always; duplicate
    * co-locations are collapsed by the final distinct. Recall is NOT
    * 1.0 by construction — the declared
    * query asserts the measured floor and the pruning, the
    * [[x1Semantic]] exact path stays the oracle of record.
    *
    * `nlist` ≤ 0 (the default) auto-sizes to √n with floor 32
    * ([[Similarity.autoNlist]]) — the fraction of pair space scored,
    * ~nassign²/nlist, then COLLAPSES as the corpus grows instead of
    * depending on a caller re-tuning a constant (BENCHNOTES "r16
    * ScaleProbe refresh" measured the fraction falling across 1/2/5/10×
    * amplification). Declared queries pin nlist = 32 explicitly so their
    * oracles are corpus-size-independent. */
  def semanticPairsIvf(emb: DataFrame, threshold: Double,
      nlist: Int = 0, nassign: Int = 3, kmeansIters: Int = 1): DataFrame = {
    val cents = Similarity.kmeansCentroids(emb,
      Similarity.resolveNlist(emb, nlist, floor = 32), kmeansIters)
    semanticPairsIvfFrom(
      Similarity.ivfProbeClusters(emb, cents, nassign)
        .select(col("cluster"), col("probe_id").as("vec_id"), col("p_emb").as("embedding")),
      threshold)
  }

  /** Same, from an already-built (cluster, vec_id, embedding) assignment
    * — callers that also need the raw candidate set (the declared bound
    * row) share ONE Lloyd refinement + assignment instead of two.
    *
    * Norms are computed ONCE per assignment row (a map-only pass) and
    * the per-pair verify is a single primitive-array dot against
    * `threshold·‖a‖·‖b‖` — the naive per-pair cosine recomputes both
    * norms for every candidate (≈ 2× the flops at ~190 candidates per
    * vector) and boxes through Seq[Float]. cos ≥ t ⇔ dot ≥ t·na·nb for
    * positive norms (zero vectors have no cosine and never pair). */
  private[operators] def semanticPairsIvfFrom(
      assigned: DataFrame, threshold: Double): DataFrame = {
    val norm = udf { (x: Array[Float]) =>
      val a = Kernels.widen(x); math.sqrt(Kernels.dotd(a, a))
    }
    val dot = udf { (x: Array[Float], y: Array[Float]) =>
      Kernels.dotd(Kernels.widen(x), Kernels.widen(y))
    }
    val an = assigned.withColumn("nrm", norm(col("embedding")))
    an.select(col("cluster"), col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
      .join(an.select(col("cluster"), col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")),
        Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      // the norm guard keeps the documented zero-vector semantics: the
      // factored predicate alone degenerates to 0 ≥ 0 = true when either
      // norm is zero (whereas the cosine it replaces is NaN, never ≥ t)
      .filter(col("na") > 0 && col("nb") > 0 &&
        dot(col("ea"), col("eb")) >= lit(threshold) * col("na") * col("nb"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
  }

  /** Declared bound row (the x2_ann pattern, strengthened: the true
    * pair count is ALSO hash-matched against DuckDB's exact O(n²) SQL).
    * recall_ok: cluster-pruned pairs recover ≥ 60 % of the exact cosine
    * ≥ 0.45 pairs (measured 1.00/0.86/0.69 at sf0.001/0.01/0.1 with
    * nlist 32 × nassign 3, BENCHNOTES "Semantic-dedup scale path" —
    * isotropic gaussian fixtures are the
    * adversarial case, every qualifying pair sits at a Voronoi boundary
    * in generic position; real near-dup clusters are tighter than their
    * cluster radius, the same worst-case argument as x2_ann_lsh's 0.5
    * floor). pruned_ok: the candidate (co-located) pair count stays
    * ≤ 30 % of n(n-1)/2 — the quadratic actually avoided (measured
    * ~0.26 ≈ nassign²/nlist; at corpus scale nlist grows ~√n and the
    * fraction collapses). */
  private def x1SemanticAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val cents = Similarity.kmeansCentroids(emb, 32, iters = 1)
    val assigned = Similarity.ivfProbeClusters(emb, cents, 3)
      .select(col("cluster"), col("probe_id").as("vec_id"), col("p_emb").as("embedding"))
    val cos = udf { (x: Seq[Float], y: Seq[Float]) =>
      val a = Kernels.widen(x.toArray); val b = Kernels.widen(y.toArray)
      Kernels.dotd(a, b) /
        (math.sqrt(Kernels.dotd(a, a)) * math.sqrt(Kernels.dotd(b, b)))
    }
    // ONE cluster self-join yields both the candidate set and the
    // threshold flag (groupBy collapses multi-cluster co-locations, the
    // job distinct() did); the old cands/got pair evaluated the join —
    // and the IVF assignment under it — twice.
    val scored = assigned.select(col("cluster"), col("vec_id").as("vec_a"), col("embedding").as("ea"))
      .join(assigned.select(col("cluster"), col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(when(cos(col("ea"), col("eb")) >= 0.45, 1).otherwise(0)).as("passed"))
    // ONE evaluation of the exact O(n²) miner: full-outer against the
    // flagged candidates, then a single aggregate computes truth /
    // hits / candidate counts together (the old hits+truth pair ran
    // the block-grid join twice).
    val exact = embeddingNeardup(emb, 0.45)
      .select(col("vec_a"), col("vec_b"), lit(1).as("t"))
    val counts = scored.withColumn("c", lit(1))
      .join(exact, Seq("vec_a", "vec_b"), "full_outer")
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("n_cand"),
        coalesce(sum(col("t")), lit(0L)).as("n_true_pairs"),
        coalesce(sum(when(col("passed") === 1 && col("t") === 1, 1).otherwise(0)),
          lit(0L)).as("n_hits"))
    val nVec = emb.agg(count(lit(1)).as("n_vectors"))
    counts.crossJoin(nVec)
      .select(col("n_vectors"), col("n_true_pairs").cast("long").as("n_true_pairs"),
        (col("n_hits").cast("double") >= col("n_true_pairs") * 0.6).as("recall_ok"),
        (col("n_cand").cast("double") /
          (col("n_vectors").cast("double") * (col("n_vectors") - 1) / 2) <= 0.3)
          .as("pruned_ok"))
  }

  private val x1SemanticAnnSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings a JOIN embeddings b
      |     ON a.vec_id < b.vec_id
      |    AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.45
      |  ) AS n_true_pairs,
      |  TRUE AS recall_ok,
      |  TRUE AS pruned_ok
      |FROM embeddings""".stripMargin

  /** PRODUCTION-ONLY bench row for the IVF semantic-dedup path: runs
    * [[semanticPairsIvf]] and NOTHING else — no exact O(n²) baseline in
    * the plan — so the driver bench can see a regression in the
    * production subtree that the [[x1SemanticAnn]] verification row
    * (which runs the exact miner in-row by design) would bury inside
    * its 4–6 s. The oracle is bound-style: n_vectors hash-matches
    * DuckDB, nonempty_ok pins that the path still FINDS pairs (true
    * pair count ≥ 7 on every fixture and measured recall ≥ 0.69 leaves
    * wide margin), canonical_ok pins the output contract (vec_a <
    * vec_b, no duplicate pairs — the distinct() and orientation a
    * downstream cluster pass depends on). Recall/pruning verification
    * stays the ANN row's job. */
  private def x1SemanticProd(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    // nlist pinned to the swept 32 (not auto-√n) so the row measures the
    // same plan at every fixture SF
    val pairs = semanticPairsIvf(emb, 0.45, nlist = 32)
    val stats = pairs.agg(
      count(lit(1)).as("n_found"),
      countDistinct(col("vec_a"), col("vec_b")).as("n_distinct"),
      coalesce(sum(when(col("vec_a") < col("vec_b"), 0).otherwise(1)), lit(0L)).as("n_bad"))
    emb.agg(count(lit(1)).as("n_vectors")).crossJoin(stats)
      .select(col("n_vectors"),
        (col("n_found") >= 1).as("nonempty_ok"),
        (col("n_found") === col("n_distinct") && col("n_bad") === 0).as("canonical_ok"))
  }

  private val x1SemanticProdSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
      |  TRUE AS nonempty_ok, TRUE AS canonical_ok
      |FROM embeddings""".stripMargin

  // ------------------------------------------------ substring-level dedup
  /** Distinct codepoint k-gram substrings of the normalized text — the
    * unit of SUBSTRING-level dedup (Lee et al. 2022, arXiv:2107.06499:
    * training-data dedup at the shared-passage level, not the whole-doc
    * level). Docs shorter than k yield nothing: a substring match needs
    * k characters by definition (no whole-text fallback here, unlike the
    * Jaccard shingles). Codepoint indexing, Locale.ROOT lowercasing —
    * same portability rules as [[charNgramHashes]]. */
  private[operators] def charGramSet(text: String, k: Int): Set[String] = {
    val s = text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val m = s.codePointCount(0, s.length)
    if (m < k) Set.empty
    else {
      val cps = new Array[Int](m)
      var ci = 0; var si = 0
      while (si < s.length) {
        val cp = s.codePointAt(si); cps(ci) = cp; ci += 1
        si += Character.charCount(cp)
      }
      val b = Set.newBuilder[String]
      var i = 0
      while (i <= m - k) { b += new String(cps, i, k); i += 1 }
      b.result()
    }
  }

  /** Distinct k-gram HASHES of the normalized text — the
    * allocation-free twin of `charGramSet(...).map(stringHash)` for the
    * posting paths that only ever consume the hash (r20 optimization,
    * guide §1.2 step 2): the string form materializes every gram
    * position as a fresh String inside a Set[String] — one codepoint
    * array copy, a String header, and a 24-char hash + equality probe
    * per position — which made the substring rows allocation-bound
    * (they degraded ~2.4× under memory-pressure hosts where the
    * arithmetic rows degraded ~1.4×). Each gram is hashed DIRECTLY from
    * the codepoint array over the exact UTF-16 unit sequence
    * `stringHash(new String(cps, i, k))` hashes — surrogate pairs
    * expanded like String.charAt — so the emitted hashes are
    * bit-identical to the old composition (pinned by a DedupSpec
    * property) and the declared rows cannot move. Dedup is a primitive
    * open-addressing set: no boxing, ≤ 0.5 load, no resize. */
  private[operators] def gramHashSet(text: String, k: Int): Array[Long] = {
    import graft.functions.Hashing._
    val s = text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val m = s.codePointCount(0, s.length)
    if (m < k) return Array.emptyLongArray
    val cps = new Array[Int](m)
    var ci = 0; var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si); cps(ci) = cp; ci += 1
      si += Character.charCount(cp)
    }
    val n = m - k + 1
    val cap = java.lang.Integer.highestOneBit(math.max(2, n) * 2 - 1) * 2
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var count = 0
    var i = 0
    while (i < n) {
      var h = FnvOffset
      var j = 0
      while (j < k) {
        val cp = cps(i + j)
        if (cp < 0x10000) h = (h ^ cp) * FnvPrime
        else {
          h = (h ^ Character.highSurrogate(cp).toInt) * FnvPrime
          h = (h ^ Character.lowSurrogate(cp).toInt) * FnvPrime
        }
        j += 1
      }
      val gh = mix64(h)
      var slot = (gh & (cap - 1)).toInt
      while (used(slot) && keys(slot) != gh) slot = (slot + 1) & (cap - 1)
      if (!used(slot)) { used(slot) = true; keys(slot) = gh; count += 1 }
      i += 1
    }
    val out = new Array[Long](count)
    var o = 0; var si2 = 0
    while (si2 < cap) {
      if (used(si2)) { out(o) = keys(si2); o += 1 }
      si2 += 1
    }
    out
  }

  /** Winnowing selection (Schleimer et al., SIGMOD'03): hash every
    * k-gram, slide a window of `w` consecutive hashes, keep each
    * window's minimum (rightmost on ties), dedupe repeated selections.
    * GUARANTEE: two docs sharing a substring of length ≥ w + k − 1
    * share at least one SELECTED gram; expected selected density is
    * 2/(w+1) of all grams. This is the scale path: the candidate join
    * runs on ~12 % of the gram volume (w=16) instead of all of it. */
  private[operators] def winnowedGramSet(text: String, k: Int, w: Int): Set[String] = {
    import graft.functions.Hashing._
    val s = text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val m = s.codePointCount(0, s.length)
    if (m < k) return Set.empty
    val cps = new Array[Int](m)
    var ci = 0; var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si); cps(ci) = cp; ci += 1
      si += Character.charCount(cp)
    }
    val nGrams = m - k + 1
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = FnvOffset
      var j = 0
      while (j < k) { h = (h ^ cps(i + j)) * FnvPrime; j += 1 }
      hs(i) = mix64(h)
      i += 1
    }
    // Sliding-window min via a monotonic deque — O(nGrams) total, vs the
    // naive per-window rescan's O(nGrams·w). Popping `>=` (not `>`) from
    // the back keeps the RIGHTMOST index among equal minima, matching
    // Schleimer's tie-break. nGrams <= w degenerates to one window.
    val picked = new java.util.TreeSet[Integer]()
    val ww = math.min(w, nGrams)
    val dq = new Array[Int](nGrams)
    var head = 0; var tail = 0
    var p = 0
    while (p < nGrams) {
      while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
      dq(tail) = p; tail += 1
      if (dq(head) <= p - ww) head += 1
      if (p >= ww - 1) picked.add(dq(head))
      p += 1
    }
    val b = Set.newBuilder[String]
    picked.forEach(ix => b += new String(cps, ix, k))
    b.result()
  }

  /** Pairs of docs sharing at least one k-char substring — the exact
    * form (oracle of record). One flatMap emits each doc's DISTINCT
    * grams (deduped in-kernel — cheaper than explode + distinct), one
    * keyed self-join on the gram, one distinct. Scale posture: work is
    * quadratic only within a gram's posting list; production corpora
    * drop ubiquitous boilerplate grams (df-capped) exactly like stop
    * words — the winnowed variant below is the volume fix. */
  def substringDupPairs(docs: DataFrame, k: Int = 24): DataFrame =
    substringPairsFrom(docGrams(docs, k, winnow = false))

  /** The production form at corpus scale: the same pair join over the
    * winnowed posting table (~2/(w+1) of the grams, so ~density² of
    * the exact join's pair volume). Complete for shared substrings of
    * length ≥ w+k−1 (the Schleimer guarantee, verified by the
    * x1_substring_dup_winnow bound row); best-effort below that. */
  def substringDupPairsWinnowed(docs: DataFrame, k: Int = 24, w: Int = 16): DataFrame =
    substringPairsFrom(docGrams(docs, k, winnow = true, w))

  private def docGrams(docs: DataFrame, k: Int, winnow: Boolean, w: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        (if (winnow) winnowedGramSet(t, k, w) else charGramSet(t, k))
          .iterator.map(g => (id, g))
      }.toDF("doc_id", "gram")
  }

  private def substringPairsFrom(grams: DataFrame): DataFrame =
    // the self-join consumes the gram-generation flatMap on both sides;
    // recompute is DELIBERATE (r21 A/B, reverting the r20
    // localCheckpoint): the checkpoint measured SLOWER in the driver's
    // r20 bench (this family 0.90-0.93×) and in this round's warm A/B —
    // the map-only gram flatMap is cheaper to run twice than to
    // materialize to executor storage and read back (BENCHNOTES Round 14
    // "Bigram-LM materialize crossover" again), and the eager
    // non-reliable checkpoint added an executor-loss failure mode on
    // clusters for nothing (ADVICE r20)
    grams.select(col("gram"), col("doc_id").as("doc_a"))
      .join(grams.select(col("gram"), col("doc_id").as("doc_b")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()

  /** The sorted-gram-run formulation of exact substring dedup — the
    * distributed shape of Lee et al.'s suffix-array pass (sort the
    * corpus's grams; equal grams form RUNS; duplicates fall out of the
    * runs), and the scale fix for the posting JOIN above:
    *
    *  - postings carry a 64-bit gram HASH, not the 24-char gram string
    *    — same result up to hash collisions (~2⁻⁶⁴ per gram pair, the
    *    [[shingleAndSign]] precedent), at a third of the bytes;
    *  - ONE groupBy shuffle builds each gram's sorted posting run;
    *    the join formulation exchanges the posting table AND sorts
    *    both join sides;
    *  - pairs are emitted inside the run's reduce task, never
    *    re-shuffled as join output — only the final distinct moves
    *    them.
    *
    * `maxRun` is the run-length cap that replaces the df-cap caveat of
    * [[substringDupPairs]]: a ubiquitous gram (boilerplate, stop
    * phrase) no longer explodes into d(d-1)/2 pairs — an oversized run
    * emits d-1 STAR edges from its smallest doc_id instead, which
    * preserves exactly what downstream clustering needs (the run's
    * docs stay one connected component with the same minimum, so
    * [[dedupClusters]]/keep-best labels are unchanged) while bounding
    * every run's output at O(d). The default (no cap) emits all pairs
    * — byte-identical to [[substringDupPairs]] and checked against the
    * same DuckDB oracle. */
  def substringDupPairsRuns(docs: DataFrame, k: Int = 24,
      maxRun: Int = Int.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val posts0 = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        // gramHashSet ≡ charGramSet(t, k).map(stringHash) bit-for-bit,
        // without materializing a String per gram position (r20)
        gramHashSet(t, k).iterator.map(g => (g, id))
      }.toDF("gh", "doc_id")
    // capped mode consumes the posting flatMap three times (the stats
    // agg + both branch joins); the 3× recompute is DELIBERATE (r21
    // A/B, reverting the r20 localCheckpoint): the driver's r20 bench
    // priced the checkpoint at 0.74× on xc_substring_keep_best and this
    // round's warm A/B agreed — gramHashSet made generation cheap
    // enough that eager storage-backed materialization costs more than
    // it saves, and at 100 TB a corpus-sized posting table pinned to
    // executor storage is a §5 spill risk (VERDICT r20 #3)
    val posts = posts0
    if (maxRun == Int.MaxValue) {
      // exact mode: the run list buffer is O(run length), which is fine
      // wherever the output itself (run²/2 pairs) is fine — exact mode
      // has already committed to that output volume.
      posts.groupBy(col("gh"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(col("ids")).as[Seq[Long]]
        .flatMap { ids0 =>
          val ids = ids0.toArray
          ids.indices.iterator.flatMap(i =>
            (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
        }.toDF("doc_a", "doc_b").distinct()
    } else {
      // capped mode must also bound the AGGREGATION BUFFER, not just the
      // output: collect_set on a truly ubiquitous gram (every doc shares
      // a boilerplate line) would materialize the whole run in one
      // buffer before any cap could apply. So runs are sized first with
      // a plain min/count aggregate (constant-size buffer at any df),
      // and only ≤ maxRun runs go through the list aggregation; oversized
      // runs emit their star edges with a second bufferless join —
      // (run_min, doc) for every other posting of the gram.
      val stats = posts.groupBy(col("gh"))
        .agg(min(col("doc_id")).as("m"), countDistinct(col("doc_id")).as("c"))
        .filter(col("c") >= 2)
      val small = posts
        .join(stats.filter(col("c") <= maxRun).select(col("gh")), Seq("gh"), "left_semi")
        .groupBy(col("gh"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .select(col("ids")).as[Seq[Long]]
        .flatMap { ids0 =>
          val ids = ids0.toArray
          ids.indices.iterator.flatMap(i =>
            (i + 1 until ids.length).iterator.map(j => (ids(i), ids(j))))
        }.toDF("doc_a", "doc_b")
      val large = posts
        .join(stats.filter(col("c") > maxRun).select(col("gh"), col("m")), Seq("gh"))
        .filter(col("doc_id") =!= col("m"))
        .select(col("m").as("doc_a"), col("doc_id").as("doc_b"))
      small.union(large).distinct()
    }
  }

  private def x1Substring(spark: SparkSession, dir: String): DataFrame =
    substringDupPairs(Tables.load(spark, dir, "documents"), 24)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The RUNS formulation declared against the SAME full-gram join
    * oracle (pair-for-pair): at fixture scale the join row above is
    * actually faster (Spark broadcasts the posting table it
    * misestimates at ~MB), so both stay declared — the join as the
    * oracle-of-record baseline, this row as the plan that survives
    * when postings stop fitting in one node's memory (one groupBy
    * exchange, no broadcast, maxRun-cappable; BENCHNOTES "Sorted-gram-run
    * substring dedup" carries the measured story). */
  private def x1SubstringRuns(spark: SparkSession, dir: String): DataFrame =
    substringDupPairsRuns(Tables.load(spark, dir, "documents"), 24)
      .orderBy(col("doc_a"), col("doc_b"))

  private val x1SubstringSql =
    """WITH n AS (
      |  SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(t, i, 24) for i in range(1, len(t) - 24 + 2)])) AS gram
      |  FROM n WHERE len(t) >= 24)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The winnowed SCALE path as a declared bound row, verifying the
    * ACTUAL winnowing guarantee: with k=24, w=16, any two docs sharing
    * a substring of length ≥ w+k−1 = 39 MUST share a selected
    * fingerprint — so truth is the 39-gram pair set (hash-matched
    * against DuckDB's full-gram SQL) and the winnowed join must catch
    * ALL of it (`guarantee_ok` is equality, not a soft floor; a missed
    * pair means the selection is wrong, full stop). `pruned_ok` pins
    * the point of the exercise: selected fingerprints ≤ 20 % of all
    * grams (measured ~0.11 ≈ 2/(w+1)) — the candidate join runs on an
    * order-of-magnitude smaller posting table, which is what makes
    * substring dedup tractable at corpus scale. Shorter matches
    * (24–38 chars) are best-effort by design — the exact
    * [[x1Substring]] path stays the oracle of record for those. */
  private def x1SubstringWinnow(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val all = docGrams(docs, 24, winnow = false)
    val win = docGrams(docs, 24, winnow = true)
    val truth = substringPairsFrom(docGrams(docs, 39, winnow = false))
      .withColumn("t", lit(1))
    val got = substringPairsFrom(win).withColumn("c", lit(1))
    val counts = truth.join(got, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(col("t")), lit(0L)).as("n_long_pairs"),
        coalesce(sum(col("t") * col("c")), lit(0L)).as("n_hits"))
    val vol = all.agg(count(lit(1)).as("n_all"))
      .crossJoin(win.agg(count(lit(1)).as("n_win")))
    counts.crossJoin(vol)
      .select(col("n_long_pairs").cast("long").as("n_long_pairs"),
        (col("n_hits") === col("n_long_pairs")).as("guarantee_ok"),
        (col("n_win").cast("double") / col("n_all") <= 0.2).as("pruned_ok"))
  }

  private val x1SubstringWinnowSql =
    """WITH n AS (
      |  SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [substr(t, i, 39) for i in range(1, len(t) - 39 + 2)])) AS gram
      |  FROM n WHERE len(t) >= 39)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_long_pairs,
      |  TRUE AS guarantee_ok, TRUE AS pruned_ok
      |FROM (
      |  SELECT DISTINCT a.doc_id, b.doc_id
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id)""".stripMargin

  /** PRODUCTION-ONLY bench row for winnowed substring dedup: runs
    * [[substringDupPairsWinnowed]] alone — ONE winnowed posting table
    * and its self-join, not the three posting tables the
    * [[x1SubstringWinnow]] guarantee row builds by design. Same
    * bound-style oracle shape as [[x1SemanticProd]]: n_docs
    * hash-matches DuckDB; nonempty_ok holds with wide margin (the
    * winnowed join catches ALL ≥ 39-char shared substrings — ≥ 25
    * pairs on every fixture — per the guarantee row's equality check);
    * canonical_ok pins orientation + distinctness. */
  private def x1SubstringWinnowProd(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = substringDupPairsWinnowed(docs, 24, 16)
    val stats = pairs.agg(
      count(lit(1)).as("n_found"),
      countDistinct(col("doc_a"), col("doc_b")).as("n_distinct"),
      coalesce(sum(when(col("doc_a") < col("doc_b"), 0).otherwise(1)), lit(0L)).as("n_bad"))
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(stats)
      .select(col("n_docs"),
        (col("n_found") >= 1).as("nonempty_ok"),
        (col("n_found") === col("n_distinct") && col("n_bad") === 0).as("canonical_ok"))
  }

  private val x1SubstringWinnowProdSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  TRUE AS nonempty_ok, TRUE AS canonical_ok
      |FROM documents""".stripMargin

  // ------------------------------------------------ fuzzy entity match
  /** Blocked fuzzy matching — the entity-resolution shape: a cheap
    * BLOCKING key (equality join, here (brand, size)) proposes
    * candidates, an edit-distance VERIFY keeps real matches. The join
    * is keyed (never a cross product), pair work is quadratic only
    * within a block, and block size is a design choice of the blocking
    * key (salt hot blocks like any skewed join at 100 TB). The verify
    * uses Spark's 3-arg `levenshtein` with a threshold — it abandons a
    * pair as soon as the running distance exceeds the bound, O(maxDist
    * × min-length) instead of O(len²) per pair — returning -1 above
    * the bound, so the filter and the emitted distance come from one
    * evaluation.
    *
    * `namePrefixSalt` > 0 appends the lowercased first-N-chars of the
    * name to the blocking key — the FINER key a growing corpus needs:
    * a fixed key cardinality means per-block pair count grows O(n²/
    * blocks) with the corpus (measured 100× within-block growth at the
    * 10× sf1 probe), while each prefix character multiplies the block
    * count by the effective first-character alphabet, holding per-block
    * density flat when the salt length grows ~log(n). The TRADE is
    * recall at the block boundary: a true match whose edit sits inside
    * the first N characters lands in different blocks and is never
    * verified — acceptable for entity names (edits cluster in
    * suffixes/middles), and 0 (off) remains the exact-blocking
    * default. */
  def fuzzyMatch(items: DataFrame, blockCols: Seq[String],
      idCol: String, nameCol: String, maxDist: Int,
      namePrefixSalt: Int = 0): DataFrame = {
    val salted =
      if (namePrefixSalt > 0)
        items.withColumn("_blk", lower(substring(col(nameCol), 1, namePrefixSalt)))
      else items
    val keys = blockCols ++ (if (namePrefixSalt > 0) Seq("_blk") else Nil)
    val a = salted.selectExpr(keys :+ s"$idCol as key_a" :+ s"$nameCol as name_a": _*)
    val b = salted.selectExpr(keys :+ s"$idCol as key_b" :+ s"$nameCol as name_b": _*)
    a.join(b, keys)
      .filter(col("key_a") < col("key_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") =!= -1)
      .select((blockCols.map(col) ++
        Seq(col("key_a"), col("key_b"), col("name_a"), col("name_b"), col("dist"))): _*)
  }

  private def x1Fuzzy(spark: SparkSession, dir: String): DataFrame =
    fuzzyMatch(Tables.load(spark, dir, "part"),
        Seq("p_brand", "p_size"), "p_partkey", "p_name", 5)
      .orderBy(col("key_a"), col("key_b"))

  private val x1FuzzySql =
    """SELECT a.p_brand, a.p_size,
      |  a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      | AND a.p_partkey < b.p_partkey
      | AND levenshtein(a.p_name, b.p_name) <= 5
      |ORDER BY key_a, key_b""".stripMargin

  val all: Seq[Declared] = Seq(
    Declared("x1_exact_dedup", x1Exact, Some(x1ExactSql)),
    Declared("x1_fuzzy_match", x1Fuzzy, Some(x1FuzzySql)),
    Declared("x1_neardup_minhash", x1Minhash, Some(x1MinhashSql)),
    Declared("x1_neardup_chargram", x1CharNgram, Some(x1CharNgramSql)),
    Declared("x1_simhash", x1Simhash, Some(x1SimhashSql)),
    Declared("x1_simhash_pairs", x1SimhashPairs, Some(x1SimhashPairsSql)),
    Declared("x1_embedding_neardup", x1Embedding, Some(x1EmbeddingSql)),
    Declared("x1_dedup_clusters", x1Clusters, Some(x1ClustersSql)),
    Declared("x1_semantic_dedup", x1Semantic, Some(x1SemanticSql)),
    Declared("x1_semantic_dedup_ann", x1SemanticAnn, Some(x1SemanticAnnSql)),
    Declared("x1_semantic_dedup_prod", x1SemanticProd, Some(x1SemanticProdSql)),
    Declared("x1_substring_dup", x1Substring, Some(x1SubstringSql)),
    Declared("x1_substring_dup_runs", x1SubstringRuns, Some(x1SubstringSql)),
    Declared("x1_substring_dup_winnow", x1SubstringWinnow, Some(x1SubstringWinnowSql)),
    Declared("x1_substring_winnow_prod", x1SubstringWinnowProd, Some(x1SubstringWinnowProdSql)))
}
