package graft.operators

import graft.SparkSpec

/** Degenerate-input behavior: empty tables and empty probe sets must
  * yield empty results, not exceptions — a driver or scheduler restart
  * at 100 TB routinely replays zero-row partitions. */
class EdgeCaseSpec extends SparkSpec {

  test("near-dup / simhash / similarity on empty input return empty") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.neardupMinhash(noDocs).count() == 0)
    assert(Dedup.simhash(noDocs).count() == 0)
    assert(Dedup.simhashPortable(noDocs).count() == 0)
    assert(Dedup.simhashPortableNeardup(noDocs).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNeardup(noVecs, 0.5).count() == 0)
    assert(Similarity.cosineTopK(noVecs, noVecs, 5).count() == 0)
  }

  test("round-17 operators: empty probes return empty; empty corpus refuses loudly") {
    import spark.implicits._
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val someVecs = Seq((1L, Array(1f, 2f)), (2L, Array(3f, 1f)))
      .toDF("vec_id", "embedding")
    // SQ8 over an empty corpus has no grid to fit — the same loud
    // refusal as quantizeInt8 / IndexStore.buildIvfPq
    val e = intercept[IllegalArgumentException] {
      Similarity.sq8TopK(noVecs, someVecs, 5).count()
    }
    assert(e.getMessage.contains("empty embedding corpus"))
    // empty PROBE set is routine (a scheduler gap): empty result
    assert(Similarity.sq8TopK(someVecs, noVecs, 5).count() == 0)
    // temperature mix over nothing is nothing
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(Curation.temperatureMix(noDocs).count() == 0)
  }

  test("round-5 operators on empty input return empty, not exceptions") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    // empty corpus, and the nastier case: empty EVAL set (bloom over 0 keys)
    assert(Curation.bloomDecontaminate(noDocs, someDocs).count() == 0)
    assert(Curation.bloomDecontaminate(someDocs, noDocs).count() == 0)
    // CMS over an empty corpus: totalCount 0 makes every gram a
    // "candidate" (est*phi >= 0) but there are no grams to gate
    assert(TextAnalysis.heavyHitters(noDocs).count() == 0)
    assert(TextAnalysis.ngramTopK(noDocs).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.semanticPairsIvf(noVecs, 0.5).count() == 0)
    val noWeighted = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val w = Seq(("en", "s", 2000000L)).toDF("lang", "source", "weight_ppm")
    assert(Curation.upsampleByWeight(noWeighted, w).count() == 0)
    // shard assignment / z-order / trending on empty input
    assert(Curation.shardAssign(noDocs, 8).count() == 0)
    val noXY = Seq.empty[(Long, Long)].toDF("x", "y")
    assert(Layout.layoutByZorder(noXY, "x", "y", 4).count() == 0)
    val noEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(graft.streaming.EventStreams.rankTopK(
      graft.streaming.EventStreams.windowTypeCounts(noEv), 3).count() == 0)
    // round-6: gram-run pair mining, both modes, on empty input
    assert(Dedup.substringDupPairsRuns(noDocs).count() == 0)
    assert(Dedup.substringDupPairsRuns(noDocs, maxRun = 2).count() == 0)
    assert(Dedup.fuzzyMatch(
      Seq.empty[(Long, String, Int, String)].toDF("k", "b", "s", "n"),
      Seq("b", "s"), "k", "n", 3, namePrefixSalt = 2).count() == 0)
  }

  test("embedding block grid handles n=1 and n < block floor") {
    import spark.implicits._
    val one = Seq((7L, Array.fill(4)(1.0f))).toDF("vec_id", "embedding")
    assert(Dedup.embeddingNeardup(one, 0.0).count() == 0) // no self-pairs
    // 3 vectors < the 8-block floor: every distinct pair still found once
    val tri = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.01f)), (2L, Array(0.99f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNeardup(tri, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)), pairs.toSeq)
  }

  test("one-token and whitespace-heavy docs shingle without error") {
    import spark.implicits._
    val docs = Seq((1L, "single"), (2L, "  a   b  "), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    // self-comparison via duplicate ids at different keys
    val dup = docs.union(Seq((11L, "single"), (12L, "  a   b  ")).toDF("doc_id", "text"))
    val pairs = Dedup.neardupMinhash(dup).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 11L), (2L, 12L))) // whitespace normalization collapses doc 2/12
  }

  test("curation kernels survive empty, whitespace-only, and non-BMP text") {
    import spark.implicits._
    // U+1F600 (surrogate pair): mean_word_len must count codepoints like
    // the oracle's length(), not UTF-16 units
    val docs = Seq((1L, ""), (2L, "   "), (3L, "😀 ab"))
      .toDF("doc_id", "text")
    val rep = Curation.repetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep(1L).getAs[Int]("n_words") == 1) // split of "" -> [""]
    assert(rep(3L).getAs[Double]("mean_word_len") == 1.5) // (1 cp + 2 cp) / 2
    assert(Curation.contamination(docs, docs.limit(0)).count() == 0) // empty eval set
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(Curation.curate(empty).count() == 0)
    assert(Curation.domainMix(empty).count() == 0)
    assert(Curation.curateFull(empty, empty).count() == 0)
  }

  test("quantizeInt8 single-vector corpus: all dims constant, all codes 0") {
    import spark.implicits._
    val one = Seq((3L, Array(0.5f, -2f, 9f))).toDF("vec_id", "embedding")
    val r = Curation.quantizeInt8(one).head
    assert(r.getSeq[Int](r.fieldIndex("qvec")) == Seq(0, 0, 0) &&
      r.getAs[Long]("q_sum") == 0)
  }

  test("curate dedup is skew-safe: 10^4-dup hot key, no window in the plan") {
    import spark.implicits._
    // one viral text duplicated 10^4 times + 50 unique docs: the keep-first
    // stage must partially aggregate (map-side combine bounds the hot key
    // at one row per input partition) instead of windowing, which would
    // funnel all 10^4 copies into a single task
    val viral = "viral boilerplate " + Seq.tabulate(40)(i => s"w$i").mkString(" ")
    val hot = (0L until 10000L).map(i => (i, viral, "en", "src0"))
    val uniq = (10000L until 10050L).map(i =>
      (i, s"unique $i " + Seq.tabulate(40)(j => s"u${i}_$j").mkString(" "), "en", "src0"))
    val docs = (hot ++ uniq).toDF("doc_id", "text", "lang", "source").repartition(8)
    val out = Curation.curate(docs, minWords = 5, maxDupWordFrac = 1.0)
    assert(out.filter($"doc_id" === 0L).count() == 1) // min-id copy survives
    assert(out.count() == 51)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "skew-prone window formulation crept back")
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("pack survives clustered + near-Long.MaxValue doc_ids with balanced buckets") {
    import spark.implicits._
    // snowflake-style id pathology: two dense epochs 10^9 apart plus a
    // tail hugging Long.MaxValue. Fixed (max-min)/buckets widths would
    // collapse both epochs into bucket 0 and the (id-min)*buckets
    // arithmetic would overflow Long; quantile cuts must keep buckets
    // balanced and offsets exact.
    val ids = (0L until 250L) ++
      (1000000000L until 1000000250L) ++
      (0L until 50L).map(Long.MaxValue - 50L + _)
    val docs = new scala.util.Random(7).shuffle(ids)
      .map(id => (id, Seq.fill(1 + (id % 11).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.pack(docs, seqLen = 64, buckets = 8)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_words", $"offset_tokens")
      .as[(Long, Int, Long)].collect()
    assert(got.length == 550)
    var off = 0L
    got.foreach { case (id, n, o) =>
      assert(o == off, s"doc $id offset $o != $off")
      off += n
    }
    // quantile boundaries: no bucket may hold more than 2x the mean
    val cuts = Curation.packOffsetsWithTotal(
      docs.select($"doc_id", org.apache.spark.sql.functions.lit(1L).as("n")), "n", 8).cuts
    val counts = ids.groupBy(id => cuts.count(_ < id)).values.map(_.size)
    val mean = ids.size.toDouble / (cuts.length + 1)
    assert(counts.max <= 2 * mean, s"skewed buckets: ${counts.toSeq.sorted}")
  }

  test("dedupClusters: 10^4-node path graph converges within the log2 round bound") {
    import spark.implicits._
    val n = 10000
    // a single path 0-1-2-…-9999: diameter n-1, the adversarial shape for
    // plain propagation (O(n) rounds). Pointer jumping must close it in
    // ~log2(n) ≈ 14 rounds — maxRounds = 16 is the assertion.
    val docs = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val labels = Dedup.dedupClusters(docs, pairs, maxRounds = 16)
    assert(labels.filter($"cluster_id" =!= 0L).count() == 0,
      "every node of the path must land in component 0")
    assert(labels.count() == n)
  }

  test("dedupClusters: maxRounds exceeded fails loudly instead of spinning") {
    import spark.implicits._
    // the same path graph with a round budget below log2(diameter):
    // must throw the convergence error, not loop or return partial labels
    val n = 512
    val docs = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.dedupClusters(docs, pairs, maxRounds = 2).count()
    }
    assert(e.getMessage.contains("failed to converge"))
  }

  test("dedupClusters: reliable-checkpoint mode produces identical labels") {
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("cc-ck").toString
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (8L, 9L)).toDF("doc_a", "doc_b")
    val local = Dedup.dedupClusters(docs, pairs)
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    val reliable = Dedup.dedupClusters(docs, pairs, checkpointDir = Some(ckDir))
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(local == reliable)
    assert(local == Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
    // success-path contract: prior rounds' snapshots are pruned
    // incrementally but the FINAL round's survives (the returned frame
    // reads from it — deleting it would dangle the result on missing
    // files). So: exactly one dedup-clusters-* run dir, holding exactly
    // one rdd-* snapshot; everything else (the empty session-uuid dir
    // setCheckpointDir creates on restore) must contain no files.
    val leftover = Option(new java.io.File(ckDir).listFiles()).map(_.toSeq).getOrElse(Seq())
    val runDirs = leftover.filter(_.getName.startsWith("dedup-clusters-"))
    assert(runDirs.size == 1,
      s"expected exactly one surviving run dir: ${leftover.map(_.getName)}")
    def filesUnder(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Seq()).flatMap(filesUnder)
      else Seq(f)
    val snaps = Option(runDirs.head.listFiles()).map(_.toSeq).getOrElse(Seq())
      .flatMap(uuid => Option(uuid.listFiles()).map(_.toSeq).getOrElse(Seq()))
      .filter(_.getName.startsWith("rdd-"))
    assert(snaps.size == 1,
      s"expected exactly one surviving rdd-* snapshot: ${snaps.map(_.getName)}")
    leftover.filterNot(runDirs.contains).foreach { d =>
      assert(filesUnder(d).isEmpty, s"unexpected files under ${d.getName}")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
  }

  test("dedupClusters: reliable-mode failure deletes the run dir and restores the checkpoint dir") {
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("cc-ck-fail").toString
    // same path graph as the loud-failure spec, budget below log2(diameter):
    // the maxRounds throw exercises the catch path with checkpointDir set
    val n = 512
    val docs = (0 until n).map(_.toLong).toDF("doc_id")
    val pairs = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.dedupClusters(docs, pairs, maxRounds = 2, checkpointDir = Some(ckDir))
    }
    assert(e.getMessage.contains("failed to converge"))
    // partial round state is worthless: the per-run subdir must be GONE
    val leftover = Option(new java.io.File(ckDir).listFiles()).map(_.toSeq).getOrElse(Seq())
    assert(!leftover.exists(_.getName.startsWith("dedup-clusters-")),
      s"run dir not deleted on failure: ${leftover.map(_.getName)}")
    // and the session checkpoint dir must no longer point at the run dir
    val restored = spark.sparkContext.getCheckpointDir
    assert(restored.forall(!_.contains("dedup-clusters-")),
      s"session checkpoint dir left on the failed run's subdir: $restored")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
  }

  test("dedupClustersManaged: cleanup() deletes the surviving snapshot after materialization") {
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("cc-ck-managed").toString
    val docs = (0L to 5L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (3L, 4L)).toDF("doc_a", "doc_b")
    val res = Dedup.dedupClustersManaged(docs, pairs, checkpointDir = Some(ckDir))
    assert(res.snapshotDir.isDefined, "reliable mode must expose the run dir")
    assert(new java.io.File(res.snapshotDir.get).exists())
    // materialize BEFORE cleanup — that is the documented contract
    val got = res.labels.orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    res.cleanup()
    assert(!new java.io.File(res.snapshotDir.get).exists(),
      "cleanup() must delete the surviving snapshot dir")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckDir))
  }

  test("round-10 operators survive empty and degenerate inputs") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noStrat = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(Curation.gopherRules(noDocs).count() == 0)
    assert(Curation.stratifiedSample(noStrat, 5).count() == 0)
    assert(TextAnalysis.bm25TopK(noDocs, Seq("x"), 5).count() == 0)
    assert(TextAnalysis.wordFreqScore(noDocs).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pqCodes(noVecs).count() == 0)
    // whitespace-only / empty-string text: flags computed, no div-by-zero
    val weird = Seq((1L, ""), (2L, "   "), (3L, "é中")).toDF("doc_id", "text")
    assert(Curation.gopherRules(weird).count() == 3)
    assert(TextAnalysis.wordFreqScore(weird).count() == 3)
    // bm25 with a term absent from the whole corpus: all scores zero
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val scores = TextAnalysis.bm25TopK(docs, Seq("zz"), 5).collect()
    assert(scores.length == 2 && scores.forall(_.getAs[Double]("bm25") == 0.0))
    // pq with fewer vectors than codewords: codes stay in range
    val tiny = Seq((1L, Array.fill(8)(1f)), (2L, Array.fill(8)(2f)))
      .toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(tiny, m = 2, k = 4, iters = 1).collect()
    assert(codes.length == 2)
    assert(codes.forall(r => (1 to 2).forall(s => r.getInt(s) >= 0 && r.getInt(s) < 4)))
  }

  test("round-11 operators survive empty and degenerate inputs") {
    import spark.implicits._
    // hashing vectorizer: empty / whitespace / unicode text — one token
    // ("" after normalization), vector carries one signed unit
    val weird = Seq((1L, ""), (2L, "   "), (3L, "é中 😀")).toDF("doc_id", "text")
    val hv = TextAnalysis.hashVectors(weird).collect()
    assert(hv.length == 3)
    assert(hv.forall(_.getSeq[Long](1).length == 64))
    // hilbert kernel: negative and >16-bit inputs mask, never throw
    import graft.functions.Hilbert.d16
    for (v <- Seq(-1L, Long.MinValue, Long.MaxValue, 65536L))
      assert(d16(v, v) >= 0 && d16(v, v) < (1L << 32))
    assert(d16(65536L, 0L) == d16(0L, 0L), "bit 16+ must mask away")
    // KMV aggregator: empty input -> empty sketch; k=1 stays bounded
    val agg1 = new graft.functions.KmvAgg(1)
    assert(agg1.finish(agg1.zero).isEmpty)
    assert(agg1.finish(agg1.merge(agg1.zero, agg1.zero)).isEmpty)
    assert(agg1.finish(agg1.reduce(agg1.reduce(agg1.zero, 5L), 3L)).toSeq == Seq(3L))
    // IndexStore on an empty corpus refuses loudly at build
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ix-empty").toString
    val e = intercept[IllegalArgumentException] {
      IndexStore.buildIvfPq(noVecs, dir)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
    // ...but an empty APPEND batch is legal (a streaming micro-batch
    // can be empty): it must land a committed n=0 stats row (the
    // avg-of-nothing → 0.0 path) and leave search serving normally
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val built = java.nio.file.Files.createTempDirectory("ix-empty-append").toString
    IndexStore.buildIvfPq(emb.filter($"vec_id" < 100), built, 16, 4, 16, 1)
    IndexStore.appendIvfPq(emb.filter($"vec_id" < 0), built, batchId = 1)
    val st = spark.read
      .schema("n BIGINT, mean_err DOUBLE, max_err DOUBLE, batch_id BIGINT")
      .json(s"$built/stats").where($"batch_id" === 1)
      .select("n", "mean_err").as[(Long, Double)].collect()
    assert(st.toSeq == Seq((0L, 0.0)))
    assert(IndexStore.searchIvfPq(spark, built, emb.filter($"vec_id" < 2), 4, 5)
      .count() > 0)
  }

  test("asof join with no matching earlier rows yields empty (not nulls)") {
    import spark.implicits._
    import java.sql.Timestamp
    val clicks = Seq((1L, 5L, Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_id", "user_id", "ts")
    val views = Seq((5L, Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("user_id", "view_ts") // only AFTER the click
    val out = AsOf.asOfJoin(clicks, views, Seq("user_id"), "ts", "view_ts")
    assert(out.count() == 1 && out.filter(out("asof").isNotNull).count() == 0)
  }

  test("zero-norm embedding is routed to the lowest-cid cluster, not silently unservable") {
    import spark.implicits._
    // every cosine to a zero vector is NaN; the residual assigner must
    // fall back to the oracle's NaN tie-break (lowest cid) instead of
    // writing a cluster=-1 codes row no probe route can ever reach
    val emb = ((0L until 30L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * (j + 1)).toFloat))) :+
      (30L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("zero-vec-ix").toString
    IndexStore.buildIvfPq(emb, dir, nlist = 2, m = 4, k = 4, iters = 1)
    val served = IndexStore.searchIvfPq(spark, dir,
        emb.filter($"vec_id" === 0), nprobe = 2, topK = 31)
      .select("vec_id").as[Long].collect().toSet
    assert(served.contains(30L), s"zero-norm vector not served: $served")
    assert(served.size == 31)
    // a NON-FINITE embedding is different garbage: routing it would
    // poison the LUT path (NaN residual -> code -1 -> index crash), so
    // it keeps the quarantining cluster=-1 row - appended without
    // error, never served, stats still parseable
    val nanRow = Seq((100L, Array(Float.NaN) ++ Array.fill(7)(1f)))
      .toDF("vec_id", "embedding")
    IndexStore.appendIvfPq(nanRow, dir, batchId = 1)
    val after = IndexStore.searchIvfPq(spark, dir,
        emb.filter($"vec_id" === 0), nprobe = 2, topK = 40)
      .select("vec_id").as[Long].collect().toSet
    assert(!after.contains(100L), "non-finite vector must stay quarantined")
    assert(after.size == 31, s"quarantine changed the served set: ${after.size}")
    val stats = spark.read
      .schema("n BIGINT, mean_err DOUBLE, max_err DOUBLE, batch_id BIGINT")
      .json(s"$dir/stats").where($"batch_id" === 1).select("n", "mean_err").head
    assert(stats.getLong(0) == 1 && !stats.getDouble(1).isNaN,
      s"quarantined row must land a finite stats entry: $stats")
  }

  test("round-17 session-2 operators survive empty and degenerate inputs") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // binary tier: empty corpus and empty probes both yield empty
    assert(Similarity.binaryTopK(noVecs, noVecs, 5, 64).count() == 0)
    val oneVec = Seq((1L, Array.fill(64)(1f))).toDF("vec_id", "embedding")
    assert(Similarity.binaryTopK(oneVec, oneVec, 5, 64).count() == 0,
      "a corpus of one vector has no non-self neighbors")
    // a shortlist narrower than k is refused loudly, not served starved
    val e = intercept[IllegalArgumentException] {
      Similarity.binaryRerank(oneVec, oneVec, 3, 5, 64)
    }
    assert(e.getMessage.contains("shortlist"))
    // split family: no near-dup pairs -> empty audit, all-singleton
    // leak-free labels that equal the plain hash split
    val distinct = (0L until 6L).map(i =>
      (i, (0 until 12).map(j => s"w${i}x$j").mkString(" "))).toDF("doc_id", "text")
    assert(Curation.splitLeakage(distinct).count() == 0)
    val lf = Curation.splitLeakfree(distinct)
      .select($"doc_id", $"cluster_id", $"split")
      .as[(Long, Long, String)].collect()
    val hs = Curation.hashSplit(distinct).select($"doc_id", $"split")
      .as[(Long, String)].collect().toMap
    assert(lf.length == 6 && lf.forall(r => r._1 == r._2 && r._3 == hs(r._1)))
    // token budget: a single-language corpus gets the whole budget
    // (q = 1) and the capped branch at any multiple above the cap
    val oneLang = Seq((1L, "a b c", "en", "web"), (2L, "d e", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val tb = Curation.tokenBudget(oneLang).collect()
    assert(tb.length == 1)
    assert(tb(0).getAs[Double]("q") == 1.0)
    assert(!tb(0).getAs[Boolean]("capped"), "2.5 epochs under the 3 cap")
    // chunk neighbors: every candidate shares the probe's doc -> no
    // rows, and an empty corpus is empty, never a throw
    assert(TextAnalysis.chunkNeighbors(noDocs, 2, 3).count() == 0)
    val oneDoc = Seq((0L, (1 to 48).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextAnalysis.chunkNeighbors(oneDoc, 1, 3).count() == 0,
      "same-doc chunks must be excluded even when they are the only candidates")
    // hybrid RRF: both arms empty -> empty fusion (not a null-rank row)
    assert(TextAnalysis.hybridRrf(noDocs, noVecs, Seq("x"), 0L, 5, 3).count() == 0)
  }
}
