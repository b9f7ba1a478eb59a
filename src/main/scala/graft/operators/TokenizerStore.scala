package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Persisted tokenizer artifacts: the train-once / encode-many split
  * for the text-trainer tier, institutionalizing for tokenizers what
  * [[IndexStore]] institutionalizes for the ANN index (and closing the
  * same amortization gap `xt_hashvec_persisted` closed in the vector
  * tier): a training pipeline learns its BPE merge table and its
  * quality-filter LM ONCE on held-out data, then prices/encodes/scores
  * many corpora against the frozen artifact — HF trains a tokenizer
  * once per model family, CCNet trains its KenLM once per language.
  * Re-learning per encode call (the composed `xt_bpe_encode` /
  * `xt_bigram_lm` rows' one-shot contract) pays a redundant
  * corpus-sized tokenize+count shuffle per call — at 100 TB, real
  * money (VERDICT r13 item 1).
  *
  * Artifacts, all parquet, all bounded by the VOCABULARY (never the
  * corpus):
  *
  *   - `merges`   (rank, pair, merged, cnt): ≤ rounds rows — the
  *                ordered BPE merge table ([[TextAnalysis.bpeMerges]])
  *   - `ctx`      (w1, c1): context counts of the bigram LM's train
  *                split — one row per distinct context word
  *   - `bigrams`  (w1, w2, c2): bigram counts — one row per distinct
  *                train-split bigram
  *   - `vocab`    (v): 1 row, the Laplace-smoothing denominator
  *
  * The fixture writes coalesce(1) (KB-scale tables); a deployment
  * whose vocabulary tables outgrow one file sizes the write like
  * [[IndexStore.compactIvfPq]] does — the artifacts stay
  * vocabulary-bounded either way, so serving cost never scales with
  * the training corpus. Scoring/encoding reads are `_SUCCESS`-gated
  * with explicit schemas (the [[IndexStore.load]] job-budget
  * discipline: schema inference is a Spark job per read), and every
  * BPE encode loads its merge table exactly once — one Spark job per
  * encode, however many derived values (vocabulary, EOS id) it needs.
  *
  * Freshness rides the same fingerprint/marker warehouse protocol as
  * the index tier ([[IndexStore.ensureArtifactFor]], layout tag `t1`):
  * single-writer per artifact dir by contract, a crashed training run
  * leaves no marker and retrains, a layout bump invalidates old
  * markers. Tokenizer artifacts are IMMUTABLE once trained — there is
  * deliberately no append/tombstone protocol here (changing a merge
  * table silently re-means every previously encoded corpus; the only
  * sane mutation is retraining into a fresh artifact, which is exactly
  * what the fingerprint forces when the training source changes).
  */
object TokenizerStore {

  private val Layout = "t1"

  /** Fingerprint-keyed warehouse dir for a tokenizer artifact trained
    * off `srcPath` — build-once/reuse, the [[IndexStore.ensureIndexFor]]
    * contract with the tokenizer family/layout. */
  private[graft] def ensureTokenizerFor(spark: SparkSession, srcPath: String,
      tag: String, build: String => Unit): String =
    IndexStore.ensureArtifactFor(spark, srcPath, tag, "tok", Layout, build)

  // -------------------------------------------------------------- BPE
  /** Learn the merge table ([[TextAnalysis.bpeMerges]]: ONE corpus
    * tokenize+count shuffle, then training on the capped word table)
    * and persist it ordered. */
  def trainBpe(docs: DataFrame, dir: String, rounds: Int = 8,
      vocabCap: Int = 256): Unit =
    TextAnalysis.bpeMerges(docs, rounds, vocabCap)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")

  /** The frozen ordered merge table (≤ rounds rows — the bounded
    * driver-side collect every encode needs anyway) in ONE Spark job:
    * the read schema is explicit (no inference job) and the rows sort
    * by rank on the driver (an `orderBy` would add a range-sampling
    * job and a shuffle for a KB-sized table). The table is immutable,
    * so each encode loads it ONCE and derives everything else — the
    * vocabulary ([[vocabOf]]), the EOS id ([[Curation.perDocIds]]) —
    * from that one `Seq`. */
  def loadMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.schema("rank INT, pair STRING, merged STRING, cnt BIGINT")
      .parquet(IndexStore.requireTable(spark, dir, "merges"))
      .select(col("rank"), col("pair"), col("merged"))
      .as[(Int, String, String)].collect().toSeq
      .sortBy(_._1).map { case (_, pair, merged) => (pair, merged) }
  }

  /** Encode a corpus against the PERSISTED merge table: one tiny
    * artifact read + the map-only codegen encode pass
    * ([[TextAnalysis.bpeEncodeWith]]) — no training shuffle. Same
    * output contract as the composed `xt_bpe_encode`. */
  def encodeBpe(docs: DataFrame, dir: String): DataFrame =
    // parallelism floor (r21, guide §2.5/§2.6): the replace-chain
    // encode is the dominant per-word cost of every BPE consumer, but
    // its input often arrives as 1-2 byte-sized splits (a micro-batch
    // drop, a small fixture file), so the encode ran on 1-2 of N cores
    // (the BitextStream forward-pass finding; measured 1.97× on
    // xc_pack_bounds). No-op whenever the scan already provides the
    // cluster's parallelism.
    TextAnalysis.bpeEncodeWith(graft.core.Par.widen(docs),
      loadMerges(docs.sparkSession, dir))

  /** The artifact's token-ID vocabulary — the id assignment is part of
    * the tokenizer contract (an id means nothing unless every consumer
    * derives it identically): base characters `a..z0..9` take ids
    * 0–35 in that fixed order, merge rank r takes id 36+r. Two merges
    * whose concatenations collide on the same SURFACE string (("ab","c")
    * and ("a","bc") both yield "abc") are indistinguishable in the
    * symbol text, so the surface keeps its FIRST (lowest-rank) id. */
  def bpeVocab(spark: SparkSession, dir: String): Map[String, Int] =
    vocabOf(loadMerges(spark, dir))

  /** [[bpeVocab]] of an already-loaded merge table — no Spark job. */
  private[graft] def vocabOf(merges: Seq[(String, String)]): Map[String, Int] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString).zipWithIndex.toMap
    merges.zipWithIndex.foldLeft(chars) {
      case (m, ((_, merged), r)) =>
        if (m.contains(merged)) m else m + (merged -> (36 + r))
    }
  }

  /** Encode to the MODEL-INPUT shape: per word (doc order preserved via
    * the token position), the frozen tokenizer's token-id sequence —
    * what sequence packing actually consumes downstream. Map-only after
    * one word explode: the replace-chain encode plus a literal-map id
    * lookup, all whole-stage codegen, no training, no shuffle beyond
    * the explode. */
  def encodeBpeIds(docs: DataFrame, dir: String): DataFrame =
    encodeBpeIdsWith(docs, loadMerges(docs.sparkSession, dir))

  /** [[encodeBpeIds]] against an already-loaded merge table, for callers
    * that derive more from the same table (the EOS id, the inverse
    * vocabulary) — the vocabulary comes from `merges`, no second load. */
  private[graft] def encodeBpeIdsWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    // same §2.5/§2.6 parallelism floor as [[encodeBpe]]
    TextAnalysis.bpeEncodeIdsWith(graft.core.Par.widen(docs), merges, vocabOf(merges))

  /** DETOKENIZE — the inverse leg that completes the tokenizer chain
    * (train → encode → ids → DECODE): run the frozen artifact's encode,
    * map every id back through the INVERSE vocabulary (id → surface is
    * well-defined: ids are unique per surface by construction, and the
    * encoder only ever emits each surface's MIN id), reassemble words
    * from their symbol sequences and documents from their words in
    * token-position order. `lossless` is computed, not asserted: the
    * detokenized text is compared against the gated normalization of
    * the SOURCE text, so any id-assignment, merge-table, or
    * reassembly drift lands as `false` in the row (and flips the
    * oracle hash). Per-doc reassembly sorts the collected (pos, word)
    * structs — collect_list order is a shuffle artifact, array_sort
    * makes it deterministic. All map-only plus one per-doc aggregate;
    * the inverse vocab is the same ≤ 36+rounds-entry driver literal as
    * the forward one. */
  def decodeBpeIds(docs: DataFrame, dir: String): DataFrame = {
    val merges = loadMerges(docs.sparkSession, dir)
    val inv: Map[Int, String] = vocabOf(merges).map(_.swap)
    val detok = encodeBpeIdsWith(docs, merges)
      .select(col("doc_id"), col("pos"),
        concat_ws("", transform(split(col("ids"), ","),
          s => element_at(typedLit(inv), s.cast(IntegerType)))).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(IntegerType).as("n_words"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w"))).as("text_detok"))
    val expected = docs.select(col("doc_id"),
      concat_ws(" ", filter(Dedup.tokens(col("text")),
        w => w.rlike("^[a-z0-9]+$"))).as("_expected"))
    detok.join(expected, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("text_detok"),
        (col("text_detok") === col("_expected")).as("lossless"))
  }

  // -------------------------------------------------- bigram LM (CCNet)
  /** Train the Laplace-smoothed bigram LM on the `trainHi` hash-split
    * bucket of `docs` and persist the model: the two vocabulary-bounded
    * count tables plus the 1-row vocab scalar
    * ([[TextAnalysis.bigramLmScore]]'s training half, shared via
    * [[TextAnalysis.bigramsOf]] so persisted and composed training can
    * never drift). One windowed bigram pass + two keyed aggregations
    * over the TRAIN split only. */
  def trainBigramLm(docs: DataFrame, dir: String, trainHi: String = "cd"): Unit = {
    val train = TextAnalysis.bigramsOf(docs)
      .filter(TextAnalysis.trainSplitPred(trainHi))
    // one lineage, three consumers: at training cadence (once per
    // tokenizer, not per score call) the localCheckpoint is the
    // measured wordFreqScore crossover shape — cut the 3× recompute
    val bi = train.localCheckpoint()
    bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/ctx")
    bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/bigrams")
    bi.agg(countDistinct(col("w2")).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** Score EVERY doc of a corpus against the PERSISTED model — the
    * CCNet deployment shape (the trained KenLM is a file; scoring is
    * one pass over the corpus bigrams joined to it). The count tables
    * are read as DataFrames so Catalyst sizes the joins (broadcast
    * while they fit, shuffle-hash beyond); the scored corpus's bigram
    * lineage now has exactly ONE consumer, so the composed row's
    * 4-consumer recompute question disappears by construction. Same
    * output contract as the composed `xt_bigram_lm`. */
  def scoreBigramLm(docs: DataFrame, dir: String, alpha: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    val ctx = spark.read.schema("w1 STRING, c1 BIGINT")
      .parquet(IndexStore.requireTable(spark, dir, "ctx"))
    val big = spark.read.schema("w1 STRING, w2 STRING, c2 BIGINT")
      .parquet(IndexStore.requireTable(spark, dir, "bigrams"))
    val vocab = spark.read.schema("v BIGINT")
      .parquet(IndexStore.requireTable(spark, dir, "vocab"))
    TextAnalysis.bigramScoreWith(TextAnalysis.bigramsOf(docs), big, ctx, vocab, alpha)
  }
}
