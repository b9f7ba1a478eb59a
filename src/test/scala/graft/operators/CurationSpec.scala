package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ---------------------------------------------------------- hashSplit
  test("hashSplit is deterministic and lands near the 80/10/10 design") {
    val d = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val counts = Curation.hashSplit(d).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    val train = counts("train").toDouble / 2000
    val vl = counts("val").toDouble / 2000
    assert(train > 0.75 && train < 0.85, s"train frac $train")
    assert(vl > 0.05 && vl < 0.15, s"val frac $vl")
    // rerun → byte-identical assignment (the property the md5 basis buys)
    val again = Curation.hashSplit(d).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("hashSplit bucket is the md5 hex prefix (portable across engines)") {
    val one = Curation.hashSplit(docs(7L -> "x")).select("bucket").head.getString(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(one == hex.substring(0, 2))
  }

  // ------------------------------------------------------ contamination
  test("contamination flags docs overlapping the eval set and skips clean docs") {
    val evalDoc = (1 to 40).map(i => s"eval$i").mkString(" ")
    val leaked = s"prefix words here $evalDoc trailing tail"
    val clean = (1 to 40).map(i => s"clean$i").mkString(" ")
    val out = Curation.contamination(
        docs(10L -> leaked, 11L -> clean),
        docs(1L -> evalDoc))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(10L) && out(10L) >= 30, s"hits=${out.get(10L)}")
    assert(!out.contains(11L))
  }

  test("contamination plans the eval dictionary as a broadcast join") {
    val plan = Curation.contamination(
        docs(1L -> "a b c d e f g"), docs(2L -> "a b c d e f g"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bloomDecontaminate matches exact contamination on a corpus with overlap") {
    val evalDoc = (1 to 40).map(i => s"eval$i").mkString(" ")
    val leaked = s"prefix words here $evalDoc trailing tail"
    val clean = (1 to 40).map(i => s"clean$i").mkString(" ")
    val corpus = docs(10L -> leaked, 11L -> clean, 12L -> s"$evalDoc extra")
    val evals = docs(1L -> evalDoc)
    val exact = Curation.contamination(corpus, evals)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = Curation.bloomDecontaminate(corpus, evals)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloomed == exact)
    assert(bloomed.contains(10L) && !bloomed.contains(11L))
  }

  test("bloom gate prunes a disjoint corpus to zero before the verify join") {
    // 2000 docs sharing no 5-gram with the eval set: every corpus shingle
    // must fail the bloom (up to fpp). The declared query's scale story IS
    // this prune; assert it directly on the gated row count.
    val corpus = (0L until 2000L)
      .map(i => (i, (0 to 8).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val evals = docs(1L -> (1 to 40).map(i => s"eval$i").mkString(" "))
    assert(Curation.bloomDecontaminate(corpus, evals).count() == 0)
    val corpusGrams = corpus.select(
      explode(udf(Curation.wordShingleStrings _).apply(col("text"))).as("g"))
    val n = corpusGrams.count()
    val evalGrams = evals.select(
      explode(udf(Curation.wordShingleStrings _).apply(col("text"))).as("g")).distinct()
    val bloom = evalGrams.stat.bloomFilter("g", 40, 0.01)
    val surviving = corpusGrams.collect()
      .count(r => bloom.mightContainString(r.getString(0)))
    // 1% fpp on 10k disjoint grams → ~100 expected survivors; assert the
    // gate removed ≥95% so a broken bloom (pass-everything) fails loudly
    assert(surviving <= n / 20, s"bloom passed $surviving of $n disjoint grams")
  }

  test("upsampleByWeight: weight 2.3M gives 2-3 copies, 600k gives 0-1, 10^6 exactly 1") {
    val d = (0L until 3000L).map(i =>
      (i, s"doc $i", if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val w = Seq(("en", "s", 2300000L), ("de", "s", 600000L), ("fr", "s", 1000000L))
      .toDF("lang", "source", "weight_ppm")
    val out = Curation.upsampleByWeight(d, w)
    val per = out.groupBy("lang", "doc_id").count()
      .groupBy("lang").agg(min("count").as("mn"), max("count").as("mx"),
        (sum("count") / countDistinct("doc_id")).as("avg_copies"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(per("en")._1 == 2 && per("en")._2 == 3) // 2 full + bernoulli(0.3)
    assert(per("de")._1 == 1 && per("de")._2 == 1) // survivors have exactly 1
    assert(per("fr") == ((1L, 1L, 1.0)))           // weight 10^6 = identity
    assert(math.abs(per("en")._3 - 2.3) < 0.1, s"en avg ${per("en")._3}")
    // de keeps ~60% of docs (hash-threshold half of the operator)
    val deKept = out.filter($"lang" === "de").select("doc_id").distinct().count()
    assert(math.abs(deKept / 1000.0 - 0.6) < 0.08, s"de kept $deKept/1000")
    // copy ids are dense 0..n-1 per doc
    val bad = out.groupBy("doc_id").agg(max("copy_id").as("mx"), count(lit(1)).as("n"))
      .filter($"mx" =!= $"n" - 1).count()
    assert(bad == 0)
  }

  // --------------------------------------------------------- repetition
  test("repetition scores duplicate-heavy docs high and unique docs zero") {
    val loop = (Seq.fill(20)("spam spam wonderful spam")).mkString(" ")
    val unique = (1 to 80).map(i => s"uniq$i").mkString(" ")
    val m = Curation.repetition(docs(1L -> loop, 2L -> unique))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Double]("dup_word_frac") > 0.9)
    assert(m(1L).getAs[Double]("dup_bigram_frac") > 0.9)
    assert(m(2L).getAs[Double]("dup_word_frac") == 0.0 &&
      m(2L).getAs[Double]("dup_bigram_frac") == 0.0 &&
      m(2L).getAs[Double]("dup_trigram_frac") == 0.0)
  }

  test("repetition mean word length is exact") {
    val m = Curation.repetition(docs(1L -> "ab cdef")).head
    assert(m.getAs[Int]("n_words") == 2 && m.getAs[Double]("mean_word_len") == 3.0)
  }

  test("repetition short-doc guard: below-n docs score zero, not NaN") {
    val r = Curation.repetition(docs(1L -> "solo")).head
    assert(r.getAs[Double]("dup_bigram_frac") == 0.0 &&
      r.getAs[Double]("dup_trigram_frac") == 0.0)
  }

  // ------------------------------------------------------------- curate
  test("curate drops exact dups and low-quality docs, keeps the rest with splits") {
    val good = (1 to 60).map(i => s"w$i").mkString(" ")
    val spammy = Seq.fill(60)("spam").mkString(" ")
    val short = "too short"
    val d = Seq(
      (1L, good, "en", "s", 0L), (2L, good, "en", "s", 0L), // exact dup pair
      (3L, spammy, "en", "s", 0L), (4L, short, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.curate(d).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L)) // min id survives
    assert(Set("train", "val", "test").contains(out.head.getAs[String]("split")))
  }

  // ---------------------------------------------------------- domainMix
  test("domainMix caps oversized domains and passes small ones through") {
    val d = Seq(
      (1L, ("w " * 300).trim, "en", "big"),
      (2L, ("w " * 20).trim, "en", "small"))
      .toDF("doc_id", "text", "lang", "source")
    val m = Curation.domainMix(d) // budget = 320/2 = 160, target = 80/domain
      .collect().map(r => r.getString(1) -> r).toMap
    assert(m("big").getLong(2) == 300 && m("big").getLong(4) == 80)
    assert(m("big").getLong(5) == 80L * 1000000 / 300)
    assert(m("small").getLong(4) == 20 && m("small").getLong(5) == 1000000)
  }

  test("temperatureMix: alpha=1 is the natural distribution, low alpha boosts " +
      "low-resource languages, q stays a distribution") {
    val d = (1L to 90L).map(i => (i, "t", if (i <= 81) "en" else "sw"))
      .toDF("doc_id", "text", "lang")
    // alpha = 1: q = p, boost = 1 everywhere
    val nat = Curation.temperatureMix(d, alpha = 1.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(nat("en").getDouble(4) - 1.0) < 1e-12)
    assert(math.abs(nat("sw").getDouble(4) - 1.0) < 1e-12)
    // alpha = 0.5 on p = (0.9, 0.1): q ∝ (0.9487.., 0.3162..) — the
    // low-resource language is boosted, the high-resource damped,
    // and q still sums to 1
    val t = Curation.temperatureMix(d, alpha = 0.5)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(t("sw").getDouble(4) > 1.0 && t("en").getDouble(4) < 1.0)
    assert(math.abs(t("en").getDouble(3) + t("sw").getDouble(3) - 1.0) < 1e-12)
    // hand-check: q_sw = sqrt(.1)/(sqrt(.9)+sqrt(.1))
    val qsw = math.sqrt(0.1) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert(math.abs(t("sw").getDouble(3) - qsw) < 1e-12)
  }

  // ------------------------------------------------------- quantizeInt8
  private def emb(rows: (Long, Array[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("quantizeInt8 maps min->0, max->255, constant dims->0") {
    val q = Curation.quantizeInt8(emb(
        1L -> Array(0f, 10f, 5f),
        2L -> Array(1f, 20f, 5f)))
      .collect().map(r => r.getLong(0) -> r).toMap
    // dim0: [0,1] -> codes 0/255; dim1: [10,20] -> 0/255; dim2 constant -> 0
    assert(q(1L).getSeq[Int](1) == Seq(0, 0, 0))
    assert(q(2L).getSeq[Int](1) == Seq(255, 255, 0))
    assert(q(1L).getLong(2) == 0 && q(2L).getLong(2) == 510)
    assert(q(2L).getInt(3) == 0 && q(2L).getInt(4) == 255)
  }

  test("quantizeInt8 codes stay in [0,255] and reconstruct within one step") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => i -> Array.fill(16)(rnd.nextFloat() * 4 - 2))
    val data = emb(vecs: _*)
    val (mn, mx) = Curation.dimMinMax(data)
    val rows = Curation.quantizeInt8(data)
      .select("vec_id", "qvec").as[(Long, Array[Int])].collect().toMap
    vecs.foreach { case (id, v) =>
      val q = rows(id)
      q.indices.foreach { i =>
        assert(q(i) >= 0 && q(i) <= 255)
        val step = (mx(i) - mn(i)) / 255.0
        val deq = mn(i) + (q(i) + 0.5) * step
        assert(math.abs(deq - v(i)) <= step, s"dim $i off by more than a step")
      }
    }
  }

  test("quantizeInt8 is a map-only plan (no Exchange)") {
    val plan = Curation.quantizeInt8(emb(1L -> Array(1f, 2f), 2L -> Array(3f, 4f)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("writeCurated lands the (lang, split)-partitioned training layout") {
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
      (i, s"doc $i " + Seq.tabulate(35)(j => s"w${i % 7}_$j").mkString(" "),
        if (i % 2 == 0) "en" else "fr", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("curated").toString
    try {
      Curation.writeCurated(Curation.curate(docs), dir, maxRecordsPerFile = 50)
      val root = new java.io.File(dir)
      val parts = root.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(parts.contains("lang=en") && parts.contains("lang=fr"), parts)
      val splits = new java.io.File(s"$dir/lang=en").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(splits.subsetOf(Set("split=train", "split=val", "split=test")) &&
        splits.contains("split=train"), splits)
      // maxRecordsPerFile honored: >100 train/en rows at 50/file → ≥2 files
      val enTrain = new java.io.File(s"$dir/lang=en/split=train")
        .listFiles().count(_.getName.endsWith(".parquet"))
      // read-back round-trips and partition columns survive
      val back = spark.read.parquet(dir)
      assert(back.count() == Curation.curate(docs).count())
      assert(back.filter($"lang" === "en" && $"split" === "train").count() > 0)
      val rows = back.filter($"lang" === "en" && $"split" === "train").count()
      if (rows > 50) assert(enTrain >= 2, s"$rows rows in $enTrain files")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pack: bucketed two-phase prefix sum equals the sequential scan") {
    import spark.implicits._
    // sparse, unordered-by-insert ids across several buckets; lengths 1-13
    val rnd = new scala.util.Random(11)
    val docs = rnd.shuffle((0 until 200).map(_ * 7L + 3)).map(id =>
      (id, Seq.fill(1 + (id % 13).toInt)("w").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Curation.pack(docs, seqLen = 64, buckets = 8)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_words", $"offset_tokens", $"seq_id")
      .as[(Long, Int, Long, Long)].collect()
    var off = 0L
    got.foreach { case (id, n, o, s) =>
      assert(o == off, s"doc $id offset $o != $off")
      assert(n == 1 + (id % 13).toInt)
      assert(s == off / 64)
      off += n
    }
    // no single-partition global window: every window is keyed on _b.
    // The window runs inside pack's materialization, so check the plans
    // pack executes, not the scan of its result.
    val plans = org.apache.spark.PlanLog.of(spark)(Curation.pack(docs, 64, 8).collect())
      .mkString("\n")
    assert(plans.contains("Window ["), plans.take(4000))
    assert(!plans.contains("SinglePartition"), plans.take(4000))
    // empty input keeps the schema
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(Curation.pack(empty).count() == 0)
  }

  // ------------------------------------------------------ sampleByWeight
  test("sampleByWeight: deterministic, weight 0 drops all, 10^6 keeps all") {
    val d = (0L until 200L).map(i => (i, s"doc $i", "en", if (i < 100) "a" else "b"))
      .toDF("doc_id", "text", "lang", "source")
    val w = Seq(("en", "a", 0L), ("en", "b", 1000000L))
      .toDF("lang", "source", "weight_ppm")
    val kept = Curation.sampleByWeight(d, w).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == (100L until 200L)) // all of b, none of a
    // half weight keeps roughly half, and reruns are identical
    val half = Seq(("en", "a", 500000L), ("en", "b", 500000L))
      .toDF("lang", "source", "weight_ppm")
    val k1 = Curation.sampleByWeight(d, half).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val k2 = Curation.sampleByWeight(d, half).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(k1 == k2, "sampler must be replay-deterministic")
    assert(k1.size > 60 && k1.size < 140, s"kept ${k1.size} of 200 at 50%")
  }

  // ------------------------------------------------------------ keepBest
  test("keepBest keeps the highest-quality duplicate, not the oldest") {
    import org.apache.spark.sql.functions.col
    // docs 1/2/3 are near-identical (one cluster); doc 2 has the most
    // words → highest length term in the quality score. doc 9 is a
    // singleton and must keep itself.
    // doc 2 appends two STOPWORDS: keeps 5-gram Jaccard at 9/11 ≈ 0.82
    // (still a near-dup) while raising both the length and stopword
    // terms of the quality score above doc 1's
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = Seq(
      (1L, base),
      (2L, base + " of the"),
      (3L, base + " x"),
      (9L, "completely unrelated content about something else entirely"))
      .toDF("doc_id", "text")
    val out = Curation.keepBest(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    // one cluster for 1/2/3 (labeled by min id), 9 alone
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(9L)._1 == 9L && out(9L)._2)
    // the kept doc is 2 (longest → best quality), not 1 (lowest id)
    assert(out(2L)._2 && !out(1L)._2 && !out(3L)._2, out.toString)
    // exactly one keeper per cluster
    val keepers = Curation.keepBest(d).filter(col("kept"))
      .groupBy(col("cluster_id")).count().collect()
    assert(keepers.forall(_.getLong(1) == 1L))
  }

  // --------------------------------------------------------- shardAssign
  test("shardAssign: total, balanced, dense positions, replay-identical") {
    val d = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = Curation.shardAssign(d, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // total: every doc assigned exactly once
    assert(s1.length == 1000 && s1.map(_._1).distinct.length == 1000)
    // balanced: no shard dominates (md5 uniformity; 1000/8 = 125 mean)
    val sizes = s1.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet.subsetOf((0 until 8).toSet))
    assert(sizes.values.forall(n => n > 80 && n < 170), s"shard sizes $sizes")
    // positions are a dense 1..n sequence inside every shard
    sizes.foreach { case (sh, n) =>
      val ps = s1.filter(_._2 == sh).map(_._3).sorted.toSeq
      assert(ps == (1 to n), s"shard $sh positions not dense")
    }
    // replay-identical: same assignment AND same order on a rerun
    val s2 = Curation.shardAssign(d, 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)
    // independent of the split salt: shard and split must not correlate
    val both = Curation.hashSplit(d).select("doc_id", "split")
      .join(Curation.shardAssign(d, 8), Seq("doc_id"))
    val trainFracByShard = both.collect().groupBy(_.getInt(2))
      .map { case (sh, rs) =>
        sh -> rs.count(_.getString(1) == "train").toDouble / rs.length }
    assert(trainFracByShard.values.forall(f => f > 0.6 && f < 0.95),
      s"split/shard correlation: $trainFracByShard")
  }

  test("gopherRules: each rule fires on its own violation") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over the lazy dog and " * 3) +
      "that have with continued effort onward").trim
    val docs = Seq(
      (1L, good),                                  // passes everything
      (2L, "too short to count"),                  // < 10 words
      (3L, good + " ##### ##### ##### ##### ####"),// symbol-heavy
      (4L, "zz qq ww rr tt yy uu ii oo pp aa ss dd ff gg") // no stop words
    ).toDF("doc_id", "text")
    val out = Curation.gopherRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), out(1L).toString)
    assert(!out(2L).getAs[Boolean]("ok_words") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("ok_symbols") && !out(3L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("ok_stops") && !out(4L).getAs[Boolean]("keep"))
    // flags other than the violated one stay green for doc 4 (words/alpha)
    assert(out(4L).getAs[Boolean]("ok_words") && out(4L).getAs[Boolean]("ok_alpha"))
  }

  test("stratifiedSample: k-bounded per stratum, deterministic, keeps small strata whole") {
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
      (i, s"text $i", if (i % 3 == 0) "en" else "de", s"src${i % 2}"))
      .toDF("doc_id", "text", "lang", "source")
    val small = Seq((900L, "only one", "zz", "tiny")).toDF("doc_id", "text", "lang", "source")
    val s1 = Curation.stratifiedSample(docs.union(small), 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    // every stratum contributes at most k, ranks dense from 1
    s1.groupBy(t => (t._2, t._3)).foreach { case (st, rs) =>
      assert(rs.length <= 5, s"stratum $st oversampled")
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length), s"stratum $st ranks")
    }
    // a stratum smaller than k survives whole
    assert(s1.count(_._2 == "zz") == 1)
    // deterministic on rerun
    val s2 = Curation.stratifiedSample(docs.union(small), 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)
  }

  test("packIds cuts the EOS-separated id stream into exact fixed-length sequences") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val dir = java.nio.file.Files.createTempDirectory("tok-pack").toString
    TokenizerStore.trainBpe(docs, dir, 8, 256)
    val seqLen = 512
    val seqs = Curation.packIds(docs, dir, seqLen)
      .orderBy($"seq_id")
      .select($"seq_id", $"n_tokens", $"ids")
      .as[(Long, Int, String)].collect()
    assert(seqs.nonEmpty)
    // sequence ids are dense from 0; every sequence but the last is
    // EXACTLY seqLen; the tail keeps its short remainder
    assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong))
    seqs.init.foreach { case (sid, n, ids) =>
      assert(n == seqLen && ids.split(",").length == seqLen, s"seq $sid: $n")
    }
    assert(seqs.last._2 <= seqLen && seqs.last._2 == seqs.last._3.split(",").length)
    // conservation: total packed tokens = sum over docs of (tokens + EOS)
    val perDoc = TokenizerStore.encodeBpe(docs, dir)
      .agg(sum($"n_bpe_tokens"), count(lit(1))).head
    val expected = perDoc.getLong(0) + perDoc.getLong(1)
    assert(seqs.map(_._2.toLong).sum == expected)
    // the stream is doc_id-ordered: the first doc's first word's ids
    // open sequence 0, and an EOS (36 + merge count — one past the
    // highest mintable id, NOT the collision-shrunk vocab-map size)
    // separates docs — count of EOS tokens equals the doc count
    val eos = (36 + TokenizerStore.loadMerges(spark, dir).size).toString
    assert(!TokenizerStore.bpeVocab(spark, dir).values.toSet.contains(eos.toInt),
      "EOS must never alias a real token id")
    assert(seqs.iterator.flatMap(_._3.split(",")).count(_ == eos) == perDoc.getLong(1))
    val firstWordIds = TokenizerStore.encodeBpeIds(docs, dir)
      .orderBy($"doc_id", $"pos").select($"ids").head.getString(0)
    assert(seqs.head._3.startsWith(firstWordIds))
  }

  test("packBounds' doc starts are exactly the EOS-successor positions of the packed stream") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val dir = java.nio.file.Files.createTempDirectory("tok-bounds").toString
    TokenizerStore.trainBpe(docs, dir, 8, 256)
    val seqLen = 512
    val bounds = Curation.packBounds(docs, dir, seqLen)
      .select($"seq_id", $"n_docs", $"doc_starts")
      .as[(Long, Int, String)].collect()
    assert(bounds.nonEmpty)
    // every doc with gated words starts exactly once, at a local
    // position inside the sequence
    val starts = bounds.flatMap { case (sid, n, ps) =>
      val p = ps.split(",").map(_.toInt)
      assert(p.length == n && p.forall(x => x >= 0 && x < seqLen))
      assert(p.toSeq == p.sorted.toSeq && p.distinct.length == p.length)
      p.map(sid * seqLen + _)
    }
    val nDocs = TokenizerStore.encodeBpe(docs, dir).count()
    assert(starts.length.toLong == nDocs)
    // cross-check against the packed TOKEN stream: a doc starts at
    // global position 0 and right after every non-trailing EOS — the
    // mask metadata must agree with the sequences it will mask
    val eos = (36 + TokenizerStore.loadMerges(spark, dir).size).toString
    val ids = Curation.packIds(docs, dir, seqLen).orderBy($"seq_id")
      .select($"ids").as[String].collect().flatMap(_.split(","))
    val fromIds = 0L +: ids.zipWithIndex
      .collect { case (t, i) if t == eos && i + 1 < ids.length => (i + 1).toLong }
    assert(starts.sorted.toSeq == fromIds.sorted.toSeq)
  }

  test("perplexityBuckets partitions every scored doc into exactly one CCNet bucket") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val scores = TextAnalysis.bigramLmScore(docs)
    val bucketed = Curation.perplexityBuckets(scores, 3.38, 3.41)
      .select($"doc_id", $"cross_entropy", $"bucket")
      .as[(Long, Double, String)].collect()
    // total preservation: bucketing adds a label, drops nothing
    assert(bucketed.length == scores.count())
    // the label is exactly the threshold comparison, doc by doc
    assert(bucketed.forall { case (_, ce, b) =>
      b == (if (ce < 3.38) "head" else if (ce < 3.41) "middle" else "tail")
    })
    // the fixture thresholds are chosen to exercise ALL THREE buckets
    // at every SF (the generator's score distribution is SF-stable)
    val byBucket = bucketed.groupBy(_._3).view.mapValues(_.length).toMap
    assert(Set("head", "middle", "tail").forall(b => byBucket.getOrElse(b, 0) > 0),
      s"degenerate bucketing: $byBucket")
    // monotone in perplexity: every head score < every middle < every tail
    def max0(b: String) = bucketed.filter(_._3 == b).map(_._2).maxOption.getOrElse(-1e9)
    def min0(b: String) = bucketed.filter(_._3 == b).map(_._2).minOption.getOrElse(1e9)
    assert(max0("head") < min0("middle") && max0("middle") < min0("tail"))
  }
  test("gopherRepetition: hand-computed top/dup n-gram character fractions") {
    // "ab cd ab cd ab": 14 chars (spaces excluded = 10), bigrams
    // "ab cd"x2, "cd ab"x2 — top2 = 2*4/10; 5-grams: the single whole
    // gram, no dup -> dup5 0; trigrams "ab cd ab"x2? grams: [ab cd ab],
    // [cd ab cd], [ab cd ab] -> top3 = 2*6/10
    val d = Seq(
      (1L, "ab cd ab cd ab"),
      (2L, "all words here are unique tokens")).toDF("doc_id", "text")
    val m = Curation.gopherRepetition(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getInt(1) == 5)
    assert(r1.getDouble(2) == 2.0 * 4 / 10)  // top2_frac
    assert(r1.getDouble(3) == 2.0 * 6 / 10)  // top3_frac
    assert(r1.getDouble(4) == 1.0 * 8 / 10)  // top4_frac: unique 4-grams, len 8
    assert(r1.getDouble(5) == 0.0)           // dup5: single 5-gram
    val r2 = m(2L)
    // all-unique doc: top fractions are one occurrence's share, dups 0
    assert((5 to 10).forall(i => r2.getDouble(i) == 0.0))
    assert(r2.getDouble(2) > 0.0 && r2.getDouble(2) < 0.5)
  }

  test("gopherRepetition: degenerate docs score zero, not NaN") {
    val d = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val rows = Curation.gopherRepetition(d).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      (2 to 10).foreach(i => assert(r.getDouble(i) == 0.0, s"doc ${r.getLong(0)} col $i"))
    }
  }

  // --------------------------------------------------------------- DSIR
  test("dsirLogWeights scores target-vocabulary docs above off-target docs") {
    // target slice (lang=en) speaks one vocabulary, the rest another;
    // a raw doc written in the target vocabulary must outscore a raw
    // doc written in the off-target one
    val d = Seq(
      (1L, "alpha beta gamma alpha beta", "en"),
      (2L, "alpha gamma beta beta alpha", "en"),
      (3L, "zork quux blarg zork quux", "xx"),
      (4L, "quux blarg zork blarg", "xx"),
      (5L, "alpha beta gamma beta alpha", "xx"), // target-like, raw-labelled
      (6L, "zork quux blarg quux", "xx")
    ).toDF("doc_id", "text", "lang")
    val w = Curation.dsirLogWeights(d, col("lang") === "en")
      .select($"doc_id", $"n_feats", $"logw")
      .as[(Long, Int, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // unigrams + bigrams: 5 words -> 5 + 4 = 9 occurrences
    assert(w(1L)._1 == 9 && w(4L)._1 == 7)
    // the target-like raw doc beats every off-target doc
    assert(w(5L)._2 > w(3L)._2 && w(5L)._2 > w(4L)._2 && w(5L)._2 > w(6L)._2,
      s"target-like doc not separated: $w")
    // and target docs themselves score high
    assert(w(1L)._2 > w(3L)._2)
  }

  test("a frozen lambda scores docs the fit corpus never saw: full bucket " +
      "coverage, no silently dropped occurrences") {
    // fit on corpus A; score corpus B whose terms A never produced —
    // every B doc must still get a row with ALL its occurrences counted
    // (review r16: an observed-only lambda inner-join dropped them)
    val fitCorpus = Seq((1L, "alpha beta alpha", "en"), (2L, "beta gamma", "xx"))
      .toDF("doc_id", "text", "lang")
    val lam = Curation.dsirFit(fitCorpus, col("lang") === "en")
    assert(lam.count() == 256, "lambda must enumerate the full hash range")
    val novel = Seq((10L, "zzqx wwvk yyrm")).toDF("doc_id", "text")
    val scored = Curation.dsirScoreWith(novel, lam)
      .select($"doc_id", $"n_feats", $"logw").as[(Long, Int, Double)].collect()
    assert(scored.length == 1)
    // 3 unigrams + 2 bigrams, all unseen at fit time
    assert(scored.head._2 == 5, s"occurrences dropped: ${scored.head}")
    assert(!scored.head._3.isNaN && !scored.head._3.isInfinite)
  }

  test("dsirSample is a deterministic Gumbel top-k: k rows, ranks 1..k, " +
      "replay-identical") {
    val d = (0L until 200L).map { i =>
      (i, s"word$i filler text number $i", if (i % 3 == 0) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val w = Curation.dsirLogWeights(d, col("lang") === "en")
    val s1 = Curation.dsirSample(w, k = 25)
      .select($"rnk", $"doc_id", $"gkey").as[(Int, Long, Double)].collect()
    assert(s1.length == 25)
    assert(s1.map(_._1).sorted.toSeq == (1 to 25))
    // ranks follow the key order
    val byRank = s1.sortBy(_._1)
    assert(byRank.sliding(2).forall { case Array(a, b) => a._3 >= b._3 })
    // pure function of (weights, salt): a second run is bit-identical
    val s2 = Curation.dsirSample(w, k = 25)
      .select($"rnk", $"doc_id", $"gkey").as[(Int, Long, Double)].collect()
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)
    // a different salt re-draws the Gumbels: still k rows, and the
    // perturbation actually moved at least one key
    val s3 = Curation.dsirSample(w, k = 25, salt = "other")
      .select($"rnk", $"doc_id", $"gkey").as[(Int, Long, Double)].collect()
    assert(s3.length == 25)
    assert(s3.sortBy(_._1).map(_._3).toSeq != byRank.map(_._3).toSeq,
      "salting the uniform did not change any Gumbel key")
  }

  // ------------------------------------------------------ leak-free split
  test("splitLeakage counts exactly the near-dup pairs the doc-hash split " +
      "leaks across train/val/test; the fixture demonstrably leaks") {
    val d = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val split = Curation.hashSplit(d).select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    val pairs = Dedup.neardupMinhash(d)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val expected = pairs.groupBy { case (a, b) => (split(a), split(b)) }
      .map { case (k, v) => k -> v.length.toLong }
    val got = Curation.splitLeakage(d)
      .select($"split_a", $"split_b", $"n_pairs", $"leaked")
      .as[(String, String, Long, Boolean)].collect()
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == expected)
    got.foreach(r => assert(r._4 == (r._1 != r._2)))
    // the audit exists because the naive split REALLY leaks here: a
    // green zero would mean the fixture stopped exercising the operator
    val leaked = got.filter(_._4).map(_._3).sum
    assert(leaked > 0, "fixture no longer leaks under the doc-hash split")
  }

  test("splitLeakfree: no near-dup pair straddles the component-keyed split, " +
      "every doc is assigned once, singletons keep their own-id split") {
    val d = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val lf = Curation.splitLeakfree(d)
      .select($"doc_id", $"cluster_id", $"split")
      .as[(Long, Long, String)].collect()
    val byDoc = lf.map(r => r._1 -> r).toMap
    assert(lf.length == d.count() && byDoc.size == lf.length)
    // structural zero: both endpoints of every near-dup pair share a split
    val pairs = Dedup.neardupMinhash(d)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a)._2 == byDoc(b)._2, s"pair ($a,$b) split across components")
      assert(byDoc(a)._3 == byDoc(b)._3, s"pair ($a,$b) leaked across splits")
    }
    // a singleton component labels itself, so its split must equal the
    // plain hashSplit of its own id — the two strategies only diverge
    // where the duplicate graph says they must
    val hs = Curation.hashSplit(d).select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    val clustered = lf.filter(r => r._1 != r._2).map(_._2).toSet
    lf.filter(r => r._2 == r._1 && !clustered.contains(r._1))
      .foreach(r => assert(r._3 == hs(r._1), s"singleton ${r._1} moved split"))
  }

  // ------------------------------------------------------- token budget
  test("tokenBudget: targets sum to the budget, epochs are exact, and the " +
      "fixture exercises both the capped and uncapped branches") {
    val d = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val rows = Curation.tokenBudget(d)
      .select($"lang", $"n_docs", $"n_tokens", $"q", $"target_tokens",
        $"epochs", $"capped", $"effective_tokens")
      .as[(String, Long, Long, Double, Long, Double, Boolean, Long)].collect()
    // q is a probability vector
    val qSum = rows.map(_._4).sum
    assert(math.abs(qSum - 1.0) < 1e-12, s"q sums to $qSum")
    // per-row arithmetic replays exactly (same double ops, same order)
    val totTokens = rows.map(_._3).sum
    rows.foreach { case (lang, _, nt, q, target, epochs, capped, eff) =>
      assert(target == math.floor(totTokens * 2.5 * q).toLong,
        s"$lang target $target != floor(totTokens*2.5*q)")
      assert(epochs == target.toDouble / nt)
      assert(capped == (epochs > 3.0))
      assert(eff == math.min(target, nt * 3))
      if (capped) assert(eff == nt * 3 && eff < target)
      else assert(eff == target)
    }
    // the report is only useful if the fixture shows BOTH outcomes
    assert(rows.exists(_._7) && rows.exists(!_._7),
      "fixture no longer exercises both capped and uncapped branches")
    // the budget never grants more than the mixture asked for in total
    assert(rows.map(_._5).sum <= math.ceil(totTokens * 2.5).toLong)
  }
}

