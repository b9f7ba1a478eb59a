package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class IndexStoreSpec extends SparkSpec {

  test("persisted IVF-PQ search equals the in-memory composition bit-for-bit") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val persisted = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect()
    val direct = Similarity.ivfPqSearch(emb, probes, 16, 4, 4, 16, 1, 5)
      .orderBy(col("probe_id"), col("rnk")).collect()
    assert(persisted.length == direct.length && persisted.length > 0)
    assert(persisted.toSeq == direct.toSeq) // adist doubles included: bit-identical
  }

  test("build stats artifact lands bit-identical JSON across partitioning " +
      "changes (mean_err is Num.davg — the r17 xs_dsir_drift flake class)") {
    // see CurateStreamSpec's telemetry-determinism audit for the full
    // enumeration of landed/hashed doubles and their arguments
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    def statsJson(nParts: Int, shuffleParts: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("ivfpq-statdet").toString
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
        IndexStore.buildIvfPq(emb.repartition(nParts), dir, 16, 4, 16, 1)
        val p = new org.apache.hadoop.fs.Path(s"$dir/stats/batch_id=0/stats.json")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
    val a = statsJson(nParts = 1, shuffleParts = "3")
    val b = statsJson(nParts = 7, shuffleParts = "11")
    assert(a == b, s"index stats are partitioning-sensitive:\n  A: $a  B: $b")
    assert(a.contains("\"mean_err\":"), s"unexpected stats shape: $a")
  }

  test("idSelector: filtered serving equals the composed filtered search; " +
      "an empty selector returns nothing; None leaves search untouched") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-sel").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val sel = emb.filter(col("label") === 3).select(col("vec_id"))
    val served = IndexStore.searchIvfPq(spark, dir, probes, 4, 5,
        idSelector = Some(sel))
      .orderBy(col("probe_id"), col("rnk")).collect()
    val composed = Similarity.ivfPqSearchFiltered(emb, probes,
        col("label") === 3, Seq("label"), 16, 4, 4, 16, 1, 5)
      .orderBy(col("probe_id"), col("rnk")).collect()
    assert(served.nonEmpty && served.toSeq == composed.toSeq) // bit-identical
    // selector membership is a hard guarantee
    val allowed = sel.collect().map(_.getLong(0)).toSet
    assert(served.forall(r => allowed(r.getLong(1))))
    // degenerate selectors behave honestly
    assert(IndexStore.searchIvfPq(spark, dir, probes, 4, 5,
      idSelector = Some(sel.limit(0))).count() == 0)
    assert(IndexStore.searchIvfPq(spark, dir, probes, 4, 5).count() == 50)
  }

  test("bloom-gated wide selector: identical results to the exact semi-join, " +
      "verify join runs shuffle-hash (no broadcast), empty selector empty") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-bloom").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val wide = emb.filter(col("label") =!= 3).select(col("vec_id"))
    val exact = IndexStore.searchIvfPq(spark, dir, probes, 4, 5,
        idSelector = Some(wide))
      .orderBy(col("probe_id"), col("rnk"))
    val gated = IndexStore.searchIvfPq(spark, dir, probes, 4, 5,
        idSelector = Some(wide), selectorBloomFpp = Some(0.01))
      .orderBy(col("probe_id"), col("rnk"))
    // bloom false positives cannot reach results: the exact verify join
    // makes the gate invisible to the ranking
    assert(gated.collect().toSeq == exact.collect().toSeq)
    // the verify join really is the no-broadcast shape — pinned on the
    // STATIC plan (the whole point: a selector too wide to broadcast
    // must never REQUIRE a broadcast). AQE may still downgrade to a
    // broadcast at runtime when the observed side is fixture-tiny —
    // that is the correct adaptive behavior, not a contract violation,
    // so the final plan is deliberately not asserted here.
    val plan = gated.queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"gated verify join is not shuffle-hash:\n${plan.take(2000)}")
    // and the gate actually gates map-side: the bloom filter predicate
    // sits on the codes scan side, visible as a Filter above it
    assert(plan.contains("UDF"), "bloom gate predicate missing from the plan")
    // a selector at full corpus width keeps every candidate servable
    val all = IndexStore.searchIvfPq(spark, dir, probes, 4, 5,
      idSelector = Some(emb.select(col("vec_id"))), selectorBloomFpp = Some(0.01))
    assert(all.count() == 50)
    // empty wide selector: empty result, no bloom NPE (stat.bloomFilter
    // cannot build on zero rows — the path must short-circuit)
    assert(IndexStore.searchIvfPq(spark, dir, probes, 4, 5,
      idSelector = Some(wide.limit(0)), selectorBloomFpp = Some(0.01)).count() == 0)
    // the gate composes with the auto-widen remedy unchanged: a narrow
    // selector served bloom-gated widens to the same rows as un-gated
    val sel8 = emb.filter(col("vec_id") < 8).select(col("vec_id"))
    val awGated = IndexStore.searchIvfPqAutoWiden(spark, dir, probes, 4, 5,
        idSelector = Some(sel8), selectorBloomFpp = Some(0.01))
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    val awExact = IndexStore.searchIvfPqAutoWiden(spark, dir, probes, 4, 5,
        idSelector = Some(sel8))
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    assert(awGated == awExact)
  }

  test("search scans only the stored codes — no corpus embedding read, no training") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix2").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    // probes handed in as local rows, so ANY embeddings.parquet scan in
    // the search plan would be a corpus-side full-vector read
    val probes = emb.filter(col("vec_id") < 3)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toSeq.toDF("vec_id", "embedding")
    val search = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
    val plan = search.queryExecution.executedPlan.toString
    // the corpus-sized input is the codes table from the index dir...
    assert(plan.contains("codes"), plan)
    // ...and the embeddings fixture (the full vectors) is never scanned
    // — queries are served from the m-ints-per-row codes alone
    assert(!plan.contains("embeddings.parquet"), plan)
  }

  test("a batch written but never committed is invisible; commit refuses a torn write") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix3").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val probes = emb.filter(col("vec_id") < 3)
    def served() = IndexStore.searchIvfPq(spark, dir, probes, 4, n.toInt)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val baseline = served()
    // the crash-between-write-and-commit shape: a codes dir lands
    // (with _SUCCESS — Spark finished the write) but the manifest swap
    // never ran. Its rows must not be served.
    val phantomIds = (900000L until 900000L + 20L)
    spark.read.parquet(s"$dir/codes/batch_id=0")
      .limit(20).withColumn("vec_id",
        monotonically_increasing_id() + 900000L)
      .write.parquet(s"$dir/codes/batch_id=7")
    assert(served() == baseline, "uncommitted batch rows were served")
    // and a commit of a batch whose write is TORN (no _SUCCESS) refuses
    assert(new java.io.File(s"$dir/codes/batch_id=7/_SUCCESS").delete())
    val e = intercept[IllegalArgumentException] {
      IndexStore.commitBatch(spark, dir, codesId = Some(7L))
    }
    assert(e.getMessage.contains("partially written"), e.getMessage)
    assert(served() == baseline)
    assert(phantomIds.forall(p => !baseline.contains(p)))
  }

  test("appendIvfPq: frozen-codebook encode, replay-idempotent, searchable") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix4").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    val half = emb.filter(col("vec_id") < n / 2)
    val rest = emb.filter(col("vec_id") >= n / 2)
    IndexStore.buildIvfPq(half, dir, 16, 4, 16, 1)
    IndexStore.appendIvfPq(rest, dir, batchId = 1)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == n, "append grew the codes table to the full corpus")
    // frozen codebooks: batch-1 codes equal a fresh encode with the
    // HALF-trained books (training never reran on the appended data)
    val (_, _, _, sub, cents, books) =
      IndexStore.load(spark, dir, IndexStore.readManifest(spark, dir).nonce)
    val expect = Similarity.pqEncodeD(Similarity.ivfResiduals(rest, cents), sub, books,
        keep = Seq("cluster")).drop("err")
      .orderBy(col("vec_id")).collect().toSeq
    val got = codes.filter(col("batch_id") === 1)
      .select(expect.head.schema.fieldNames.map(col).toSeq: _*)
      .orderBy(col("vec_id")).collect().toSeq
    assert(got == expect)
    // at-least-once upstream delivery: re-appending the same batch id
    // overwrites, never duplicates
    IndexStore.appendIvfPq(rest, dir, batchId = 1)
    assert(spark.read.parquet(s"$dir/codes").count() == n)
    // an appended vector is SERVED: probe with a batch-1 vector at a
    // topK covering the candidate set — the probe's own argmax cluster
    // is always among its nprobe routed lists, so with no tombstones its
    // own id must be in the served candidates. (Top-5 self-retrieval is
    // NOT the assertion: under residual encoding a vector's quantized
    // residual need not be its own nearest reconstruction when the
    // codebooks trained on a different batch's residuals.)
    val probeId = n - 1
    val hits = IndexStore.searchIvfPq(spark, dir,
        emb.filter(col("vec_id") === probeId), 4, n.toInt)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hits.contains(probeId), s"probe $probeId not served among ${hits.size} candidates")
  }

  test("deleteIvfPq excludes tombstoned rows; compactIvfPq makes deletes physical with identical search results") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix5").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < n / 2), dir, 16, 4, 16, 1)
    IndexStore.appendIvfPq(emb.filter(col("vec_id") >= n / 2), dir, batchId = 1)
    val probes = emb.filter(col("vec_id") < 5)
    def search() = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk"))
    // tombstone every rank-1 neighbor of the baseline, so the delete
    // provably changes results (not just ids nobody retrieved)
    val victims = search().filter(col("rnk") === 1)
      .select("vec_id").distinct().as[Long].collect().toSeq
    assert(victims.nonEmpty)
    IndexStore.deleteIvfPq(victims.toDF("vec_id"), dir, batchId = 1)
    val afterDelete = search().collect().toSeq
    val got = afterDelete.map(_.getLong(1)).toSet // vec_id column
    assert(victims.forall(v => !got.contains(v)),
      s"tombstoned ids $victims still served: $got")
    // replayed delete batch lands exactly-once (overwrite, not append)
    IndexStore.deleteIvfPq(victims.toDF("vec_id"), dir, batchId = 1)
    assert(search().collect().toSeq == afterDelete)
    // compaction: one live fold batch under a negative id, tombstones
    // cleared from the MANIFEST (the visibility root), results identical
    IndexStore.compactIvfPq(spark, dir)
    assert(search().collect().toSeq == afterDelete,
      "compaction changed search results")
    val man = IndexStore.readManifest(spark, dir)
    assert(man.codes == Seq(-1L), man.codes)
    assert(man.tombstones.isEmpty, "tombstones not cleared from the manifest")
    assert(spark.read.parquet(s"$dir/codes/batch_id=-1").count() == n - victims.size)
    // superseded dirs survive the commit (the snapshot grace period)
    // and are reclaimed by the NEXT compaction's GC
    assert(new java.io.File(s"$dir/codes/batch_id=0").exists())
    IndexStore.compactIvfPq(spark, dir)
    assert(search().collect().toSeq == afterDelete)
    val left = new java.io.File(s"$dir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(!left.contains("batch_id=0") && !left.contains("batch_id=1"),
      s"orphaned fold sources not GC'd: $left")
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "drained tombstone dirs not GC'd")
  }

  test("an uncommitted tombstone batch is not applied; its commit makes the delete live") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix6").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val probes = emb.filter(col("vec_id") < 3)
    def served() = IndexStore.searchIvfPq(spark, dir, probes, 4, n.toInt)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val victim = served().max
    // the crash-between-write-and-commit shape for a DELETE: tombstone
    // rows on disk (with _SUCCESS) but never committed — a half-
    // delivered delete must stay entirely invisible, not half-applied
    Seq(victim).toDF("vec_id")
      .write.parquet(s"$dir/tombstones/batch_id=1")
    assert(served().contains(victim), "uncommitted tombstone was applied")
    // the replay that commits it (deleteIvfPq overwrites + commits)
    // flips the whole batch visible atomically
    IndexStore.deleteIvfPq(Seq(victim).toDF("vec_id"), dir, batchId = 1)
    assert(!served().contains(victim), "committed tombstone not applied")
  }

  test("a compaction crash never degrades serving; the next compact call GCs and completes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix7").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < n / 2), dir, 16, 4, 16, 1)
    IndexStore.appendIvfPq(emb.filter(col("vec_id") >= n / 2), dir, batchId = 1)
    val probes = emb.filter(col("vec_id") < 5)
    def search() = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    val baseline = search()
    // fabricate a compaction that crashed mid-fold-write: a PARTIAL
    // fold dir at the negative id the next attempt will reuse — under
    // the manifest protocol it was never committed, so readers never
    // see it and nothing is refused
    spark.read.parquet(s"$dir/codes/batch_id=0").limit(10)
      .write.parquet(s"$dir/codes/batch_id=-1")
    assert(search() == baseline, "a crashed fold attempt leaked into serving")
    // the replayed maintenance call GCs the stranded attempt, re-folds,
    // and commits — results identical throughout
    IndexStore.compactIvfPq(spark, dir)
    assert(search() == baseline, "compaction after a crash changed search results")
    val man = IndexStore.readManifest(spark, dir)
    assert(man.codes == Seq(-1L), man.codes)
    assert(spark.read.parquet(s"$dir/codes/batch_id=-1").count() == n,
      "the completed fold must supersede the partial crash attempt")
  }

  test("snapshot isolation: a reader resolved before compaction serves the pre-compaction snapshot") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-snap").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < n / 2), dir, 16, 4, 16, 1)
    IndexStore.appendIvfPq(emb.filter(col("vec_id") >= n / 2), dir, batchId = 1)
    IndexStore.deleteIvfPq(Seq(0L, 1L).toDF("vec_id"), dir, batchId = 1)
    val probes = emb.filter(col("vec_id") < 5)
    val baseline = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    // the concurrent-reader shape: this plan resolved its manifest (and
    // pinned its batch dirs) BEFORE the compaction below commits —
    // under the v3 marker protocol this collect THREW mid-compaction
    val pinned = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk"))
    IndexStore.compactIvfPq(spark, dir)
    assert(pinned.collect().toSeq == baseline,
      "a pre-compaction reader must serve its pinned snapshot")
    // and a reader arriving after the commit sees the identical results
    // from the folded layout
    assert(IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq == baseline)
    // the same guarantee across a REBUILD (v6 generation-addressed
    // state: new state/<nonce>/ + a fresh build-batch id, one manifest
    // swap — a rebuild no longer retracts the manifest, so a reader
    // pinned before it serves the OLD generation, not an error)
    val preRebuild = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk"))
    val preRows = preRebuild.collect().toSeq
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1) // full corpus, new books
    assert(preRebuild.collect().toSeq == preRows,
      "a pre-rebuild reader must keep serving its pinned generation")
    val postMan = IndexStore.readManifest(spark, dir)
    assert(postMan.codes == Seq(postMan.built) && postMan.built < 0,
      s"rebuild should commit a fresh negative build batch: $postMan")
  }

  test("partial fold (upTo) leaves newer batches and tombstones in place") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ix8").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    val third = n / 3
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < third), dir, 16, 4, 16, 1)
    IndexStore.appendIvfPq(
      emb.filter(col("vec_id") >= third && col("vec_id") < 2 * third), dir, 1)
    IndexStore.appendIvfPq(emb.filter(col("vec_id") >= 2 * third), dir, 2)
    val probes = emb.filter(col("vec_id") < 5)
    def search() = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    // tombstone an id that lives in the KEPT batch 2
    IndexStore.deleteIvfPq(Seq(n - 1).toDF("vec_id"), dir, batchId = 1)
    val before = search()
    IndexStore.compactIvfPq(spark, dir, upTo = 1) // fold {0,1}, keep 2
    assert(search() == before, "partial fold changed search results")
    val man = IndexStore.readManifest(spark, dir)
    assert(man.codes == Seq(-1L, 2L), man.codes)
    // tombstones must SURVIVE a partial fold: the deleted id is in batch
    // 2, which was not rewritten — clearing them would resurrect it
    assert(man.tombstones == Seq(1L), "tombstones cleared on partial fold")
    assert(spark.read
      .parquet(man.codes.map(b => s"$dir/codes/batch_id=$b"): _*)
      .count() == n, "kept batch was rewritten")
  }

  test("compaction property: random batches + random deletes + partial/full folds preserve search results") {
    import spark.implicits._
    // randomized-but-seeded: any batch partitioning of the corpus, any
    // delete set, any fold boundary — compaction must be invisible to a
    // reader. 3 trials (Spark jobs are the cost; the deterministic seed
    // keeps failures reproducible).
    val rnd = new scala.util.Random(20260814L)
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    for (trial <- 0 until 3) {
      val dir = java.nio.file.Files.createTempDirectory(s"ivfpq-prop$trial").toString
      // 2-4 batches at random cut points
      val nBatches = 2 + rnd.nextInt(3)
      val cuts = (Seq.fill(nBatches - 1)(rnd.between(1L, n)).sorted :+ n).distinct
      IndexStore.buildIvfPq(emb.filter(col("vec_id") < cuts.head), dir, 16, 4, 16, 1)
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        if (hi > lo)
          IndexStore.appendIvfPq(
            emb.filter(col("vec_id") >= lo && col("vec_id") < hi), dir, i + 1)
      }
      // random delete set (~10% of ids) in 1-2 tombstone batches
      val dels = (0L until n).filter(_ => rnd.nextDouble() < 0.1)
      if (dels.nonEmpty) {
        val (d1, d2) = dels.splitAt(dels.size / 2)
        if (d1.nonEmpty) IndexStore.deleteIvfPq(d1.toDF("vec_id"), dir, 1)
        if (d2.nonEmpty) IndexStore.deleteIvfPq(d2.toDF("vec_id"), dir, 2)
      }
      val probes = emb.filter(col("vec_id") < 5)
      def search() = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
        .orderBy(col("probe_id"), col("rnk")).collect().toSeq
      val before = search()
      assert(before.nonEmpty, s"trial $trial: empty baseline")
      // partial fold at a random boundary, then a full fold
      IndexStore.compactIvfPq(spark, dir, upTo = rnd.nextInt(nBatches).toLong)
      assert(search() == before, s"trial $trial: partial fold changed results")
      IndexStore.compactIvfPq(spark, dir)
      assert(search() == before, s"trial $trial: full fold changed results")
      assert(IndexStore.readManifest(spark, dir).tombstones.isEmpty,
        s"trial $trial: tombstones not cleared by the full fold")
    }
  }

  test("appendIvfPq job budget: bounded state reloads + ONE encode+write job") {
    // the perf contract behind the stats landing (BENCHNOTES): the
    // per-batch drift-monitor row rides the codes write via observe()
    // and lands through the Hadoop FS API, so appending a batch runs
    // exactly the three bounded state-reload jobs (meta, centroids,
    // codebooks) plus ONE encode+write job. A regression that adds a
    // per-batch action (a persist, a separate agg, a 1-row DF write)
    // fires here instead of surfacing as wall-clock drift on the
    // streaming row.
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-jobs").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < 250), dir, 16, 4, 16, 1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def counted(body: => Unit): Int = {
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        // the listener bus is async — give in-flight job-start events a
        // moment to drain before reading the counter
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get
    }
    val cold = counted {
      IndexStore.appendIvfPq(emb.filter(col("vec_id") >= 250 && col("vec_id") < 400), dir, 1)
    }
    assert(cold == 4,
      s"cold appendIvfPq ran $cold jobs, contract is 4 (3 bounded reloads + 1 encode+write)")
    // the state cache makes every later append against the same (still
    // frozen) state a single encode+write job — micro-batch latency is
    // job count, and a production maintainer appends thousands of times
    // per one build
    val warm = counted { IndexStore.appendIvfPq(emb.filter(col("vec_id") >= 400), dir, 2) }
    assert(warm == 1,
      s"warm appendIvfPq ran $warm jobs, contract is 1 (cached state + encode+write)")
    // and the batches' stats rows landed without any of those jobs
    val st = spark.read.json(s"$dir/stats").where(col("batch_id") === 1)
      .select("n", "mean_err", "max_err").collect()
    assert(st.length == 1 && st(0).getLong(0) == 150 && st(0).getDouble(1) > 0)
  }

  test("state cache: query-many serves from memory, a rebuild invalidates by signature") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-cache").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val probes = emb.filter(col("vec_id") < 3)
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < 300), dir, 16, 4, 16, 1)
    def search() = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    val base = IndexStore.stateLoads.get()
    val first = search()
    assert(IndexStore.stateLoads.get() == base + 1, "first search must load state from disk")
    assert(search() == first)
    assert(IndexStore.stateLoads.get() == base + 1,
      "second search must be served from the cached state — zero reload jobs")
    // a REBUILD rewrites meta/centroids/codebooks: the filesystem
    // signature changes, so the cache must miss and serve the NEW state
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val rebuilt = search()
    assert(IndexStore.stateLoads.get() == base + 2,
      "a rebuilt index must be reloaded, not served stale from the cache")
    assert(rebuilt != first, "rebuild over a larger corpus should change results")
  }

  test("protocol property: random append/delete/compact/rebuild with injected crashes always serve exactly the committed live set") {
    import spark.implicits._
    // model-based check of the WHOLE v6 mutation protocol: a driver-side
    // model tracks the set of ids the index should serve; after every
    // operation — including the four crash shapes, each of which leaves
    // an UNCOMMITTED artifact on disk — the actually-served set must
    // equal the model exactly. Seeded so failures reproduce.
    val rnd = new scala.util.Random(20260815L)
    val base = Tables.load(spark, sf("sf0.001"), "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 120).as[(Long, Array[Float])].collect()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-model").toString
    val idToVec = scala.collection.mutable.Map.empty[Long, Array[Float]]
    def mint(n: Int): Seq[Long] = {
      val start = if (idToVec.isEmpty) 0L else idToVec.keys.max + 1
      (start until start + n).map { id =>
        idToVec(id) = base((id % base.length).toInt)._2; id
      }
    }
    def df(ids: Seq[Long]) = ids.map(id => (id, idToVec(id))).toDF("vec_id", "embedding")
    var live = Set.empty[Long]
    var nextBatch = 1L
    var lastUsedBatch = 0L
    val first = mint(40)
    // one probe, every cluster probed (nprobe = nlist), topK ≥ any live
    // count: the ranked candidates ARE the served set
    val probe = df(Seq(first.head))
    def served(): Set[Long] = IndexStore
      .searchIvfPq(spark, dir, probe, nprobe = 8, topK = 4096)
      .select("vec_id").as[Long].collect().toSet
    IndexStore.buildIvfPq(df(first), dir, nlist = 8, m = 4, k = 8, iters = 1)
    live = first.toSet
    assert(served() == live, "post-build")
    for (step <- 0 until 12) {
      val op = rnd.nextInt(8)
      val what = op match {
        case 0 | 1 => // append a fresh drop
          val ids = mint(5 + rnd.nextInt(20))
          IndexStore.appendIvfPq(df(ids), dir, nextBatch)
          lastUsedBatch = nextBatch; nextBatch += 1
          live ++= ids; s"append(${ids.size})"
        case 2 => // delete a random live slice
          val ids = live.toSeq.sorted.filter(_ => rnd.nextDouble() < 0.25)
          if (ids.nonEmpty) {
            IndexStore.deleteIvfPq(ids.toDF("vec_id"), dir, nextBatch)
            lastUsedBatch = nextBatch; nextBatch += 1
            live --= ids
          }
          s"delete(${ids.size})"
        case 3 => // compact at a random boundary
          IndexStore.compactIvfPq(spark, dir,
            upTo = rnd.between(0L, nextBatch))
          "compact"
        case 4 => // rebuild over the live set, subsuming every used batch
          IndexStore.buildIvfPq(df(live.toSeq.sorted), dir, 8, 4, 8, 1,
            subsume = lastUsedBatch)
          "rebuild"
        case 5 => // CRASHED append: codes dir on disk, commit never ran —
          // fabricate the torn shape by landing a live batch's codes
          // rows under phantom ids at an uncommitted positive batch id
          val src = IndexStore.readManifest(spark, dir).codes.head
          spark.read.parquet(s"$dir/codes/batch_id=$src")
            .limit(8).withColumn("vec_id", monotonically_increasing_id() + 900000L)
            .write.mode("overwrite").parquet(s"$dir/codes/batch_id=$nextBatch")
          nextBatch += 1 // a replayed stream would reuse the id; fresh here keeps the model simple
          "crash-append"
        case 6 => // CRASHED delete: tombstone dir on disk, no commit
          val victims = live.toSeq.sorted.take(3)
          if (victims.nonEmpty)
            victims.toDF("vec_id").write.mode("overwrite")
              .parquet(s"$dir/tombstones/batch_id=$nextBatch")
          nextBatch += 1
          "crash-delete"
        case 7 => // CRASHED compact/rebuild: junk fold dir at a negative id
          val src = IndexStore.readManifest(spark, dir).codes.head
          spark.read.parquet(s"$dir/codes/batch_id=$src").limit(3)
            .write.mode("overwrite").parquet(s"$dir/codes/batch_id=${-99L - step}")
          "crash-fold"
      }
      assert(served() == live,
        s"step $step ($what): served ${served().size} != model ${live.size}; " +
          s"extra=${(served() -- live).take(5)} missing=${(live -- served()).take(5)}")
    }
    // closing full fold: deletes physical, crash debris GC'd, set intact
    IndexStore.compactIvfPq(spark, dir)
    assert(served() == live, "post-final-compact")
    assert(IndexStore.readManifest(spark, dir).tombstones.isEmpty)
  }

  test("ensureIndexFor builds once, reuses on match, rebuilds on marker mismatch") {
    // single-writer/single-JVM contract (the q38 Bucketing caveat): this
    // pins the sequential behavior — build on first use, reuse while the
    // marker matches the source fingerprint, rebuild when it doesn't
    val srcFile = java.nio.file.Files.createTempFile("ix-src", ".parquet")
    java.nio.file.Files.write(srcFile, Array.fill(64)(7.toByte))
    var builds = 0
    def ensure() = IndexStore.ensureIndexFor(spark, srcFile.toString, "spec",
      d => { builds += 1; new java.io.File(d).mkdirs(); () })
    val d1 = ensure()
    assert(builds == 1)
    assert(ensure() == d1 && builds == 1, "matching marker must be reused")
    // a marker from a different source/layout version must NOT be served
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(d1, "_graft_fingerprint"), "v0:stale")
    assert(ensure() == d1 && builds == 2, "stale marker must trigger rebuild")
    assert(ensure() == d1 && builds == 2)
  }

  test("rebuild over an UNFILTERED corpus cannot resurrect tombstoned vectors") {
    import spark.implicits._
    // the data-removal hazard (ADVICE r13): buildIvfPq is a public API,
    // and a direct rebuild call over the raw upstream corpus — without
    // IndexStream.maintain's liveVecIds pre-filter — must still honor
    // live tombstones (a SemDeDup/compliance delete is a promise)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-resur").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val victims = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    val victimIds = victims.as[Long].collect().toSet
    IndexStore.deleteIvfPq(victims, dir, batchId = 1)
    // rebuild straight over the unfiltered fixture (subsume irrelevant
    // here — the hazard is the corpus, not the watermark)
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val served = IndexStore.searchIvfPq(spark, dir,
        emb.filter(col("vec_id") < 10), 4, n.toInt)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(victimIds.forall(v => !served.contains(v)),
      s"rebuild resurrected deleted ids: ${(served & victimIds).take(5)}")
    // like compaction, the rebuild made the deletes PHYSICAL: the new
    // generation carries no tombstones and none of the victims' codes
    val man = IndexStore.readManifest(spark, dir)
    assert(man.tombstones.isEmpty, man.tombstones)
    val stored = spark.read.parquet(s"$dir/codes/batch_id=${man.built}")
      .select("vec_id").as[Long].collect().toSet
    assert(victimIds.forall(v => !stored.contains(v)))
    // and a SURVIVING vector is still served (the filter dropped only
    // the victims, not the corpus)
    assert(served.nonEmpty && (served -- victimIds).nonEmpty)
  }

  test("buildIvfPq upgrades an older-layout dir in place, preserving its tombstones") {
    import spark.implicits._
    // the circular-upgrade trap (ADVICE r13): readManifest's layout gate
    // says "rebuild with buildIvfPq", so buildIvfPq itself must tolerate
    // the older-layout manifest it is asked to replace
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-upg").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    IndexStore.deleteIvfPq(Seq(3L, 10L).toDF("vec_id"), dir, batchId = 1)
    // simulate the dir having been written by the previous layout: the
    // id namespace and tombstone lists are layout-stable, only the
    // version field differs. The nio overwrite invalidates the checksum
    // sidecar hadoop's local fs keeps for the manifest — drop it
    val mp = java.nio.file.Paths.get(dir, "manifest.json")
    java.nio.file.Files.writeString(mp,
      java.nio.file.Files.readString(mp).replace("\"layout\":7", "\"layout\":6"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".manifest.json.crc"))
    // readers refuse (codes semantics differ across layouts)...
    val e = intercept[IllegalArgumentException] {
      IndexStore.readManifest(spark, dir)
    }
    assert(e.getMessage.contains("rebuild with buildIvfPq"), e.getMessage)
    // ...and the prescribed remedy WORKS instead of re-throwing the gate
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val served = IndexStore.searchIvfPq(spark, dir,
        emb.filter(col("vec_id") < 10), 4, n.toInt)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.nonEmpty && !served.contains(3L) && !served.contains(10L),
      "tombstones written before the layout upgrade must survive it")
    assert(IndexStore.readManifest(spark, dir).layout == 7)
  }

  test("expireSnapshots reclaims superseded generations without touching current readers") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-exp").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < n / 2), dir, 16, 4, 16, 1)
    val oldNonce = IndexStore.readManifest(spark, dir).nonce
    val probes = emb.filter(col("vec_id") < 5)
    def search() = IndexStore.searchIvfPq(spark, dir, probes, 4, 5)
      .orderBy(col("probe_id"), col("rnk")).collect().toSeq
    // rebuild supersedes generation 1; until maintenance runs, the dead
    // generation and the old build batch stay on disk (snapshot grace)
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val cur = search()
    assert(new java.io.File(s"$dir/state/$oldNonce").exists(),
      "superseded generation should linger until explicit maintenance")
    assert(new java.io.File(s"$dir/codes/batch_id=0").exists())
    IndexStore.expireSnapshots(spark, dir)
    // dead state generation + orphan build batch are gone...
    assert(!new java.io.File(s"$dir/state/$oldNonce").exists(),
      "expireSnapshots left the dead generation")
    assert(!new java.io.File(s"$dir/codes/batch_id=0").exists(),
      "expireSnapshots left the superseded build batch")
    val man = IndexStore.readManifest(spark, dir)
    assert(new java.io.File(s"$dir/state/${man.nonce}").exists())
    // ...and current-manifest reads are untouched, before and after
    assert(search() == cur, "expireSnapshots changed served results")
    // idempotent: a second expiry is a no-op
    IndexStore.expireSnapshots(spark, dir)
    assert(search() == cur)
  }

  test("expireSnapshots minAgeMs floors on ORPHANING time: first sighting spares, " +
      "a pass after the floor reclaims") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-floor").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < n / 2), dir, 16, 4, 16, 1)
    val oldNonce = IndexStore.readManifest(spark, dir).nonce
    val oldGen = new java.io.File(s"$dir/state/$oldNonce")
    // age the generation's files WELL past the floor before superseding
    // it — under the r15 mtime gate this made it instantly reclaimable,
    // which is exactly the bug (ADVICE r15): it was orphaned only now
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 3600L * 1000)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(ageTree)
    }
    ageTree(oldGen)
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1) // supersedes gen 1 NOW
    assert(oldGen.exists())
    // pass 1: sights the day-old-mtime orphan, stamps the marker, spares it
    IndexStore.expireSnapshots(spark, dir, minAgeMs = 150L)
    assert(oldGen.exists(),
      "a generation orphaned moments ago was reclaimed inside the floor " +
        "— the gate keyed on write time, not orphaning time")
    assert(new java.io.File(oldGen, "_GC_SIGHTED").exists(), "sighting marker missing")
    // pass 2 inside the floor: still spared
    IndexStore.expireSnapshots(spark, dir, minAgeMs = 150L)
    assert(oldGen.exists(), "reclaimed before the sighting aged past the floor")
    // pass after the sighting ages past the floor: reclaimed
    Thread.sleep(300L)
    IndexStore.expireSnapshots(spark, dir, minAgeMs = 150L)
    assert(!oldGen.exists(), "orphan not reclaimed after the floor elapsed")
    // the current generation is untouched throughout
    val man = IndexStore.readManifest(spark, dir)
    assert(new java.io.File(s"$dir/state/${man.nonce}").exists())
  }

  test("searchIvfPqAutoWiden: starved probes get the full-list ranking, " +
      "non-starved keep their pruned results, every probe ends at topK") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-aw").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1)
    val probes = emb.filter(col("vec_id") < 10)
    val sel = Some(emb.filter(col("vec_id") < 20).select(col("vec_id")))
    val narrow = IndexStore.searchIvfPq(spark, dir, probes, 4, 5, sel)
    val counts = probes.select(col("vec_id").as("probe_id"))
      .join(narrow.groupBy("probe_id").count(), Seq("probe_id"), "left")
      .select(col("probe_id"), coalesce(col("count"), lit(0L)).as("c"))
      .as[(Long, Long)].collect().toMap
    val starved = counts.filter(_._2 < 5).keySet
    // the fixture selector must exercise BOTH branches
    assert(starved.nonEmpty, "no probe starved: selector not selective enough")
    assert(starved.size < counts.size, "every probe starved: no fast-path coverage")
    val got = IndexStore.searchIvfPqAutoWiden(spark, dir, probes, 4, 5, sel)
      .select($"probe_id", $"rnk", $"vec_id")
      .as[(Long, Int, Long)].collect().toSet
    // manual composition: narrow where sufficient, nprobe=nlist where starved
    val wide = IndexStore.searchIvfPq(spark, dir,
        probes.filter(col("vec_id").isin(starved.toSeq: _*)), 16, 5, sel)
      .select($"probe_id", $"rnk", $"vec_id").as[(Long, Int, Long)].collect().toSet
    val keptNarrow = narrow.filter(!col("probe_id").isin(starved.toSeq: _*))
      .select($"probe_id", $"rnk", $"vec_id").as[(Long, Int, Long)].collect().toSet
    assert(got == (keptNarrow ++ wide))
    // recovery: the widened search fills every starved probe to topK
    val perProbe = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts.keySet.forall(p => perProbe.getOrElse(p, 0) == 5),
      s"not every probe at topK: $perProbe")
  }

  test("unfloored GC honors a floor PROMISED by an earlier sighting: compaction " +
      "between two floored expiry passes cannot void the retention window") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-floor2").toString
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val n = emb.count()
    IndexStore.buildIvfPq(emb.filter(col("vec_id") < n / 2), dir, 16, 4, 16, 1)
    val oldNonce = IndexStore.readManifest(spark, dir).nonce
    val oldGen = new java.io.File(s"$dir/state/$oldNonce")
    IndexStore.buildIvfPq(emb, dir, 16, 4, 16, 1) // supersedes gen 1
    // floored pass 1: sights the orphan, writes the 10-minute promise
    IndexStore.expireSnapshots(spark, dir, minAgeMs = 600000L)
    assert(oldGen.exists() && new java.io.File(oldGen, "_GC_SIGHTED").exists())
    // an UNFLOORED compaction inside the window (ADVICE r16: this used
    // to reclaim the spared orphan immediately, so any compaction
    // between two expiry passes voided the documented guarantee)
    IndexStore.compactIvfPq(spark, dir)
    assert(oldGen.exists(),
      "compaction's default GC reclaimed an orphan inside its promised floor")
    // a bare unfloored expiry inside the window: also spared
    IndexStore.expireSnapshots(spark, dir)
    assert(oldGen.exists(),
      "unfloored expiry reclaimed an orphan inside its promised floor")
    // once the SIGHTING ages past the promised floor, an unfloored pass
    // reclaims: backdate the marker rather than sleeping 10 minutes
    new java.io.File(oldGen, "_GC_SIGHTED")
      .setLastModified(System.currentTimeMillis() - 700000L)
    IndexStore.expireSnapshots(spark, dir)
    assert(!oldGen.exists(), "orphan not reclaimed after its promised floor elapsed")
    // serving is intact throughout
    val man = IndexStore.readManifest(spark, dir)
    assert(new java.io.File(s"$dir/state/${man.nonce}").exists())
  }
}
