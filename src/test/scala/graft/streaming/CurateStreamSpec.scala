package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.IndexStore

/** Incremental curation over a growing parquet directory: within-batch
  * keep-first, cross-batch dedup via the persisted key store, and the
  * repetition/split stages — across two AvailableNow passes with one
  * checkpoint, the way daily crawl drops run. */
class CurateStreamSpec extends SparkSpec {

  private def doc(id: Long, text: String) =
    (id, text, "en", "s", text.length.toLong)

  private def longText(seed: Long): String =
    s"doc $seed " + Seq.tabulate(40)(j => s"w${seed}_$j").mkString(" ")

  test("two drops: within-batch and cross-batch duplicates collapse, new docs flow") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatestream").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")

    // drop 1: docs 1-3 distinct; doc 4 duplicates doc 1's text (whitespace
    // edit — normText collapses it); doc 5 is too short for the filter
    Seq(doc(1, longText(1)), doc(2, longText(2)), doc(3, longText(3)),
        doc(4, "  " + longText(1).toUpperCase + " "), doc(5, "too short"))
      .toDF(cols: _*).write.parquet(s"$inDir/drop1.parquet")
    // each drop is a parquet directory under inDir → glob one level down
    CurateStream.start(spark, s"$inDir/*", outDir, ck).awaitTermination()

    val after1 = spark.read.parquet(s"$outDir/data")
    assert(after1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(spark.read.parquet(s"$outDir/_keys").count() == 3)

    // drop 2: doc 6 re-posts doc 2's text (cross-batch dup), doc 7 is new
    Seq(doc(6, longText(2)), doc(7, longText(7)))
      .toDF(cols: _*).write.parquet(s"$inDir/drop2.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck).awaitTermination()

    val after2 = spark.read.parquet(s"$outDir/data")
    assert(after2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 7L))
    // split labels present and deterministic (md5 of doc_id)
    assert(after2.filter($"split".isin("train", "val", "test")).count() == 4)
    assert(spark.read.parquet(s"$outDir/_keys").count() == 4)

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("batch replay after a crash converges: no duplicates, no data loss") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatereplay").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def ids() = spark.read.parquet(dataDir)
      .select("doc_id").as[Long].collect().sorted.toSeq

    val b0 = Seq(doc(1, longText(1)), doc(2, longText(2)), doc(3, longText(3)))
      .toDF(cols: _*)
    CurateStream.processBatch(b0, 0, keysDir, dataDir, 30, 0.5)
    // batch 1: doc 8 re-posts doc 2's text (cross-batch dup), 7/9 new
    val b1 = Seq(doc(7, longText(7)), doc(8, longText(2)), doc(9, longText(9)))
      .toDF(cols: _*)
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5)
    val expected = Seq(1L, 2L, 3L, 7L, 9L)
    assert(ids() == expected)

    // crash case A — between the data and keys writes: batch 1's keys are
    // lost, its data already on disk. The replay must overwrite, not
    // append a second copy of docs 7 and 9.
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$keysDir/batch_id=1"))
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5)
    assert(ids() == expected, "replay duplicated batch-1 rows")
    assert(spark.read.parquet(keysDir).count() == 5)

    // crash case B — after the keys write but before the checkpoint
    // commit: the replay sees its OWN keys in the store. It must exclude
    // them (batch_id < N) or it would anti-join away every batch-1 doc
    // and overwrite the batch directory with nothing.
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5)
    assert(ids() == expected, "replay self-cancelled batch-1 rows")
    assert(spark.read.parquet(keysDir).count() == 5)

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** 100 distinct words; `tweak` ≥ 0 replaces one mid-doc word, changing
    * 5 of the 96 word-5-shingles → Jaccard ≈ 0.90 vs the untweaked text
    * (near-dup at the 0.8 threshold, NOT an exact dup). */
  private def bigText(seed: Long, tweak: Int = -1): String =
    Array.tabulate(100)(j =>
      if (j == tweak) s"tweaked${seed}_$j" else s"w${seed}_$j").mkString(" ")

  test("near-dup: within-batch and cross-batch near-duplicates collapse") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curateneardup").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val bandsDir = s"$root/out/_bands"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def ids() = spark.read.parquet(dataDir)
      .select("doc_id").as[Long].collect().sorted.toSeq

    // batch 0: doc 2 is a NEAR-dup of doc 1 (one word tweaked — the
    // exact key store cannot catch it); doc 3 is unrelated
    val b0 = Seq(doc(1, bigText(1)), doc(2, bigText(1, tweak = 50)),
        doc(3, bigText(3)))
      .toDF(cols: _*)
    CurateStream.processBatch(b0, 0, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == Seq(1L, 3L), "within-batch near-dup must keep-first")
    // band store: one row per ACCEPTED doc
    assert(spark.read.parquet(bandsDir).count() == 2)

    // batch 1: doc 4 near-dups doc 1 across the batch boundary (a
    // different tweak, so not exact either); doc 5 is new
    val b1 = Seq(doc(4, bigText(1, tweak = 70)), doc(5, bigText(5)))
      .toDF(cols: _*)
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == Seq(1L, 3L, 5L), "cross-batch near-dup must drop")
    assert(spark.read.parquet(bandsDir).count() == 3)

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("near-dup replay converges: lost band partition, then full self-replay") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatendreplay").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val bandsDir = s"$root/out/_bands"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def ids() = spark.read.parquet(dataDir)
      .select("doc_id").as[Long].collect().sorted.toSeq

    val b0 = Seq(doc(1, bigText(1)), doc(3, bigText(3))).toDF(cols: _*)
    CurateStream.processBatch(b0, 0, keysDir, dataDir, 30, 0.5, Some(0.8))
    val b1 = Seq(doc(4, bigText(1, tweak = 70)), doc(5, bigText(5)))
      .toDF(cols: _*)
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5, Some(0.8))
    val expected = Seq(1L, 3L, 5L)
    assert(ids() == expected)

    // crash between the keys and bands writes: batch 1's band partition
    // lost. Replay must converge (overwrite, same survivors).
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$bandsDir/batch_id=1"))
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == expected, "replay after band-partition loss diverged")
    assert(spark.read.parquet(bandsDir).count() == 3)

    // full replay with every store intact: the batch must not near-dup
    // against its OWN batch-1 data/bands (batch_id < N excludes them) —
    // doc 5 would otherwise match itself (J = 1) and self-cancel.
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == expected, "self-replay near-dupped its own rows away")
    assert(spark.read.parquet(bandsDir).count() == 3)

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("store compaction: batch_id<=upTo collapse to one partition, dedup and replay semantics survive") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatecompact").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val bandsDir = s"$root/out/_bands"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def ids() = spark.read.parquet(dataDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    def parts(dir: String) = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq

    val b0 = Seq(doc(1, bigText(1)), doc(2, bigText(2))).toDF(cols: _*)
    val b1 = Seq(doc(3, bigText(3))).toDF(cols: _*)
    val b2 = Seq(doc(4, bigText(4))).toDF(cols: _*)
    CurateStream.processBatch(b0, 0, keysDir, dataDir, 30, 0.5, Some(0.8))
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5, Some(0.8))
    CurateStream.processBatch(b2, 2, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == Seq(1L, 2L, 3L, 4L))

    // compact batches 0..1 (strictly below the newest committed batch 2)
    // the store schema is data columns only: batch_id is the partition dir
    intercept[IllegalArgumentException] {
      Maintenance.compactBatchStore(spark, keysDir, upTo = 1,
        CurateStream.keysData.add("batch_id", "bigint"))
    }
    assert(Maintenance.compactBatchStore(spark, keysDir, upTo = 1, CurateStream.keysData) == 3L)
    assert(Maintenance.compactBatchStore(spark, bandsDir, upTo = 1, CurateStream.bandsData) == 3L)
    assert(parts(keysDir) == Seq("batch_id=1", "batch_id=2"))
    assert(parts(bandsDir) == Seq("batch_id=1", "batch_id=2"))
    // the installed partitions hold exactly the returned counts, and the
    // band rows kept their array column through the declared schema
    assert(spark.read.parquet(s"$keysDir/batch_id=1").count() == 3L)
    assert(spark.read.parquet(s"$bandsDir/batch_id=1").columns.toSeq == Seq("doc_id", "bands"))
    // idempotent: nothing left to compact below upTo
    assert(Maintenance.compactBatchStore(spark, keysDir, upTo = 1, CurateStream.keysData) == -1L)

    // replay of batch 2 after compaction: batch_id=1 < 2 keeps every
    // compacted key visible, batch 2's own keys still excluded
    CurateStream.processBatch(b2, 2, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == Seq(1L, 2L, 3L, 4L), "replay after compaction diverged")

    // new batch 3: exact dup of doc 1 and near-dup of doc 2 — both
    // suppressors live only in the compacted partition now
    val b3 = Seq(doc(5, bigText(1)), doc(6, bigText(2, tweak = 40)),
        doc(7, bigText(7))).toDF(cols: _*)
    CurateStream.processBatch(b3, 3, keysDir, dataDir, 30, 0.5, Some(0.8))
    assert(ids() == Seq(1L, 2L, 3L, 4L, 7L),
      "compacted store lost exact or near-dup suppressors")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("crashed compaction: marker fails batches loudly, re-invocation finishes the swap") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatecompcrash").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val b0 = Seq(doc(1, bigText(1))).toDF(cols: _*)
    val b1 = Seq(doc(2, bigText(2))).toDF(cols: _*)
    CurateStream.processBatch(b0, 0, keysDir, dataDir, 30, 0.5)
    CurateStream.processBatch(b1, 1, keysDir, dataDir, 30, 0.5)

    // simulate the worst crash point: tmp fully written, marker down,
    // one source partition already deleted, swap rename never ran
    spark.read.parquet(s"$keysDir/batch_id=0", s"$keysDir/batch_id=1")
      .repartition(1).write.parquet(s"$keysDir/.compact-tmp")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$keysDir/${Maintenance.CompactMarker}"),
      "batch_id=1\nbatch_id=0\nbatch_id=1".getBytes("UTF-8"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$keysDir/batch_id=0"))

    // a batch arriving now must fail loudly, not read the half-swapped store
    val b2 = Seq(doc(3, bigText(3))).toDF(cols: _*)
    val e = intercept[IllegalArgumentException] {
      CurateStream.processBatch(b2, 2, keysDir, dataDir, 30, 0.5)
    }
    assert(e.getMessage.contains(Maintenance.CompactMarker))

    // re-invoking compaction finishes the interrupted plan losslessly
    // (and then has a single partition left, so nothing more to fold)
    assert(Maintenance.compactBatchStore(spark, keysDir, upTo = 1, CurateStream.keysData) == -1L)
    assert(spark.read.parquet(keysDir).count() == 2)
    // and an exact dup of the doc whose partition was deleted mid-swap
    // is still caught — no key was lost
    val b2b = Seq(doc(3, bigText(1)), doc(4, bigText(4))).toDF(cols: _*)
    CurateStream.processBatch(b2b, 2, keysDir, dataDir, 30, 0.5)
    assert(spark.read.parquet(dataDir).select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("crashed compaction AFTER the swap rename: recovery keeps the installed partition") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatecomplate").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    CurateStream.processBatch(Seq(doc(1, bigText(1))).toDF(cols: _*), 0, keysDir, dataDir, 30, 0.5)
    CurateStream.processBatch(Seq(doc(2, bigText(2))).toDF(cols: _*), 1, keysDir, dataDir, 30, 0.5)
    CurateStream.processBatch(Seq(doc(3, bigText(3))).toDF(cols: _*), 2, keysDir, dataDir, 30, 0.5)

    // simulate the LATEST crash point: sources deleted, tmp already
    // renamed onto the target (batch_id=1 now IS the compacted
    // partition, tmp gone), only the marker delete never ran. The
    // plan's source list includes the target's own name — recovery
    // must not delete the partition it just installed.
    val compacted = spark.read
      .parquet(s"$keysDir/batch_id=0", s"$keysDir/batch_id=1").collect()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$keysDir/batch_id=0"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$keysDir/batch_id=1"))
    spark.createDataFrame(spark.sparkContext.parallelize(compacted.toIndexedSeq),
        spark.read.parquet(s"$keysDir/batch_id=2").schema)
      .repartition(1).write.parquet(s"$keysDir/batch_id=1")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$keysDir/${Maintenance.CompactMarker}"),
      "batch_id=1\nbatch_id=0\nbatch_id=1".getBytes("UTF-8"))

    Maintenance.compactBatchStore(spark, keysDir, upTo = 1, CurateStream.keysData)
    assert(!new java.io.File(s"$keysDir/${Maintenance.CompactMarker}").exists())
    assert(spark.read.parquet(keysDir).count() == 3,
      "post-rename recovery deleted the installed compacted partition")
    // the compacted keys still suppress dups — nothing was lost
    val b3 = Seq(doc(4, bigText(1)), doc(5, bigText(5))).toDF(cols: _*)
    CurateStream.processBatch(b3, 3, keysDir, dataDir, 30, 0.5)
    assert(spark.read.parquet(dataDir).select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 5L))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("marker recovery then fold: the returned count is the installed partition's row count") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatecomprecount").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    CurateStream.processBatch(Seq(doc(1, bigText(1)), doc(2, bigText(2))).toDF(cols: _*),
      0, keysDir, dataDir, 30, 0.5)
    CurateStream.processBatch(Seq(doc(3, bigText(3))).toDF(cols: _*), 1, keysDir, dataDir, 30, 0.5)
    CurateStream.processBatch(Seq(doc(4, bigText(4)), doc(5, bigText(5))).toDF(cols: _*),
      2, keysDir, dataDir, 30, 0.5)

    // crash at the worst point of a fold at upTo = 1: tmp written, the
    // marker down, batch_id=0 already deleted, the swap rename never ran
    spark.read.parquet(s"$keysDir/batch_id=0", s"$keysDir/batch_id=1")
      .repartition(1).write.parquet(s"$keysDir/.compact-tmp")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$keysDir/${Maintenance.CompactMarker}"),
      "batch_id=1\nbatch_id=0\nbatch_id=1".getBytes("UTF-8"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$keysDir/batch_id=0"))

    // the next fold (upTo = 2) first finishes that plan, then folds the
    // recovered batch_id=1 with batch_id=2: its count comes from the
    // write itself, and must match what a re-read of the install finds
    val n = Maintenance.compactBatchStore(spark, keysDir, upTo = 2, CurateStream.keysData)
    assert(n == 5L)
    assert(spark.read.parquet(s"$keysDir/batch_id=2").count() == n)
    assert(new java.io.File(keysDir).list().filter(_.startsWith("batch_id=")).toSeq ==
      Seq("batch_id=2"))
    assert(!new java.io.File(s"$keysDir/${Maintenance.CompactMarker}").exists())

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("a fold of empty partitions installs an empty partition and counts 0") {
    import spark.implicits._
    // every doc of both batches rejected: each partition is one empty file
    val dir = java.nio.file.Files.createTempDirectory("curatecompempty").toString
    Seq.empty[String].toDF("_key").write.parquet(s"$dir/batch_id=0")
    Seq.empty[String].toDF("_key").write.parquet(s"$dir/batch_id=1")
    assert(Maintenance.compactBatchStore(spark, dir, upTo = 1, CurateStream.keysData) == 0L)
    assert(spark.read.parquet(s"$dir/batch_id=1").count() == 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a non-partitioned entry in any gated per-batch store fails the read " +
      "instead of dropping out of the batch filter") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatelayout").toString
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // a stray parquet FILE at a store root (here: a copy of batch 0's
    // file) reads as batch_id = null and silently drops out of the
    // batch_id filter — dedup quietly off for a key/band/data store,
    // rows quietly missing for the pack and bitext stores
    def strayFile(store: String): String = {
      val part = new java.io.File(s"$store/batch_id=0").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(store, "stray.parquet"))
      "stray.parquet"
    }
    // a whole key directory from some older unpartitioned layout
    def strayDir(store: String): String = {
      Seq("k").toDF("_key").write.parquet(s"$store/legacy-keys.parquet")
      "legacy-keys.parquet"
    }
    def curate(nearDup: Boolean, batchId: Long)(out: String): Unit =
      CurateStream.processBatch(Seq(doc(batchId + 1, longText(batchId + 1))).toDF(cols: _*),
        batchId, s"$out/_keys", s"$out/data", 30, 0.5,
        nearDupJaccard = if (nearDup) Some(0.8) else None)
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .orderBy($"doc_id").limit(40)
    val tok = java.nio.file.Files.createTempDirectory("curatelayout-tok").toString
    graft.operators.TokenizerStore.trainBpe(docs, tok, 8, 256)
    val emb = graft.core.Tables.load(spark, sf("sf0.001"), "embeddings")
    val src = emb.filter($"vec_id" % 2 === 0)
    val tgt = emb.filter($"vec_id" % 2 === 1).orderBy($"vec_id").limit(8)
    def bitext(batchId: Long)(out: String): Unit =
      BitextStream.processBatch(tgt, batchId, src, out, 4, 1.0)
    // (store, how batch 0 lands, the store under the output dir, the
    // gated read that must refuse, what is planted at the store root)
    val cases = Seq[(String, String => Unit, String, String => Unit, String => String)](
      ("key store, stray directory", curate(nearDup = false, 0), "_keys",
        curate(nearDup = false, 1), strayDir),
      ("key store", curate(nearDup = false, 0), "_keys", curate(nearDup = false, 1), strayFile),
      ("band store", curate(nearDup = true, 0), "_bands", curate(nearDup = true, 1), strayFile),
      ("data store (near-dup verify read)", curate(nearDup = true, 0), "data",
        curate(nearDup = true, 1), strayFile),
      ("pack fragment store", PackStream.processBatch(docs, 0, tok, _, 512, 32), "frag",
        out => PackStream.packed(spark, out).collect(), strayFile),
      ("bitext forward state", bitext(0), "fwd", bitext(1), strayFile))
    cases.zipWithIndex.foreach { case ((what, land0, store, read, plant), i) =>
      val out = s"$root/$i"
      land0(out)
      val name = plant(s"$out/$store")
      withClue(s"$what: ") {
        val e = intercept[IllegalArgumentException](read(out))
        assert(e.getMessage.contains(name), e.getMessage)
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tok))
  }

  test("corrupt key store fails the batch instead of silently skipping dedup") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatecorrupt").toString
    val keysDir = s"$root/out/_keys"; val dataDir = s"$root/out/data"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val junk = new java.io.File(s"$keysDir/batch_id=0")
    junk.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$keysDir/batch_id=0/part-0.parquet"),
      "this is not parquet".getBytes)
    val b = Seq(doc(1, longText(1))).toDF(cols: _*)
    intercept[Exception] {
      CurateStream.processBatch(b, 1, keysDir, dataDir, 30, 0.5)
    }
    // and nothing was admitted on the data side for that failed batch
    assert(!new java.io.File(s"$dataDir/batch_id=1").exists() ||
      spark.read.parquet(s"$dataDir/batch_id=1").count() == 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("near-dup chain across drops: stream and batch policies legitimately diverge on the tail doc") {
    // Pins CurateStream's documented incremental-policy semantics as
    // behavior: a similarity CHAIN A~B, B~C with A !~ C (all word-wise —
    // B appends 6 words to A, C appends 6 more to B, so shingle Jaccards
    // are 36/42 = 0.857, 42/48 = 0.875, 36/48 = 0.75 around the 0.8
    // threshold) split as drops {A,B} then {C}. The STREAM drops B
    // against survivor A, stores only SURVIVOR bands, so C — similar
    // only to the dropped middle doc — survives: {A, C}. The BATCH
    // policy drops any doc with ANY smaller-id near-dup among the
    // filtered docs (B via A, C via B), keeping {A}. The divergence on
    // the chain tail is a semantic property of incremental curation,
    // not a bug — this spec fails if either side's policy drifts.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatechain").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aWords = Seq.tabulate(40)(i => s"a$i")
    val bWords = aWords ++ Seq.tabulate(6)(i => s"b$i")
    val cWords = bWords ++ Seq.tabulate(6)(i => s"c$i")
    val (ta, tb, tc) = (aWords.mkString(" "), bWords.mkString(" "), cWords.mkString(" "))

    // guard the arithmetic against the shingle implementation itself:
    // the exact near-dup graph at 0.8 must be exactly the chain edges
    val union = Seq(doc(1, ta), doc(2, tb), doc(3, tc)).toDF(cols: _*)
    val exactPairs = graft.operators.Dedup.neardupMinhash(union)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exactPairs == Set((1L, 2L), (2L, 3L)),
      s"fixture not a chain at J>=0.8: $exactPairs")

    Seq(doc(1, ta), doc(2, tb)).toDF(cols: _*).write.parquet(s"$inDir/drop1.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck, nearDupJaccard = Some(0.8)).awaitTermination()
    Seq(doc(3, tc)).toDF(cols: _*).write.parquet(s"$inDir/drop2.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck, nearDupJaccard = Some(0.8)).awaitTermination()

    val streamIds = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamIds == Seq(1L, 3L),
      s"stream policy must keep the chain tail (similar only to the DROPPED middle doc): $streamIds")
    // batch policy over the same union: drop any doc with a smaller-id
    // near-dup among the filtered docs — B (via A) and C (via B)
    val batchIds = (Set(1L, 2L, 3L) -- exactPairs.map(_._2)).toSeq.sorted
    assert(batchIds == Seq(1L), s"batch policy must keep only the chain head: $batchIds")
    assert(streamIds != batchIds, "the two policies must diverge on this fixture")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("compactEvery auto-compacts the key store in-stream and dedup still suppresses afterwards") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatecompact").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val keysDir = s"$outDir/_keys"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def keyPartitions() = new java.io.File(keysDir).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq

    Seq(doc(1, longText(1)), doc(2, longText(2))).toDF(cols: _*)
      .write.parquet(s"$inDir/drop1.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck, compactEvery = 2).awaitTermination()
    Seq(doc(3, longText(3))).toDF(cols: _*).write.parquet(s"$inDir/drop2.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck, compactEvery = 2).awaitTermination()
    assert(keyPartitions() == Seq("batch_id=0", "batch_id=1"),
      "no compaction may run before the schedule fires")

    // batch 2 fires the schedule (2 % 2 == 0): batch_id<=1 partitions
    // collapse into batch_id=1 BEFORE the batch's own work; doc 4
    // re-posts doc 1's text and must be suppressed BY THE COMPACTED store
    Seq(doc(4, longText(1)), doc(5, longText(5))).toDF(cols: _*)
      .write.parquet(s"$inDir/drop3.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck, compactEvery = 2).awaitTermination()
    assert(keyPartitions() == Seq("batch_id=1", "batch_id=2"),
      s"expected pre-batch partitions collapsed into batch_id=1: ${keyPartitions()}")
    val ids = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 5L),
      s"cross-batch dedup must still hold against the compacted store: $ids")
    assert(spark.read.parquet(keysDir).count() == 4)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("startCurateAndIndex: the index serves exactly the curated corpus; an idle pass adds nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curateandix").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val ixDir = s"$root/ix"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // k = 2: batch 0 has only 3 accepted docs to train on (k-means
    // cannot mint more codewords than training points — buildIvfPq
    // refuses loudly otherwise, see its require)
    def pass() = CurateStream.startCurateAndIndex(spark, s"$inDir/*", outDir,
      ck, ixDir, nlist = 2, m = 4, k = 2).awaitTermination()
    def served(): Set[Long] = {
      val probes = graft.operators.TextAnalysis.hashVectors(
          Seq((1L, longText(1))).toDF("doc_id", "text"))
        .filter($"l2" > 0)
        .select($"doc_id".as("vec_id"),
          expr("transform(vec, x -> CAST(x AS FLOAT))").as("embedding"))
      IndexStore.searchIvfPq(spark, ixDir, probes, nprobe = 2, topK = 100)
        .select("vec_id").as[Long].collect().toSet
    }
    def kept(): Set[Long] = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().toSet
    // drop 1: 1-3 distinct, 4 dups 1, 5 fails quality — rejects must
    // never enter the index at all
    Seq(doc(1, longText(1)), doc(2, longText(2)), doc(3, longText(3)),
        doc(4, "  " + longText(1).toUpperCase + " "), doc(5, "too short"))
      .toDF(cols: _*).write.parquet(s"$inDir/drop1.parquet")
    pass()
    assert(kept() == Set(1L, 2L, 3L))
    assert(served() == kept(), "index must serve exactly the curated corpus")
    // drop 2: 6 re-posts doc 2 (cross-batch dup, rejected), 7 new —
    // the append encodes ONLY the survivors, under frozen codebooks
    Seq(doc(6, longText(2)), doc(7, longText(7)))
      .toDF(cols: _*).write.parquet(s"$inDir/drop2.parquet")
    pass()
    assert(kept() == Set(1L, 2L, 3L, 7L))
    assert(served() == kept(), "append must track curation exactly")
    // an AvailableNow pass with no new files replays nothing
    pass()
    assert(served() == Set(1L, 2L, 3L, 7L))
    assert(IndexStore.readManifest(spark, ixDir).codes == Seq(0L, 1L))
    // drop 3 with compactEvery=2: batch 2 folds {0,1} under the
    // checkpoint-derived upTo BEFORE appending itself — served set
    // still tracks curation exactly, manifest holds fold + own batch
    Seq(doc(8, longText(8))).toDF(cols: _*).write.parquet(s"$inDir/drop3.parquet")
    CurateStream.startCurateAndIndex(spark, s"$inDir/*", outDir, ck, ixDir,
      nlist = 2, m = 4, k = 2, compactEvery = 2).awaitTermination()
    assert(kept() == Set(1L, 2L, 3L, 7L, 8L))
    assert(served() == kept(), "post-compaction append must track curation")
    assert(IndexStore.readManifest(spark, ixDir).codes == Seq(-1L, 2L))
    // the keys store compacted under the same schedule (start()'s
    // compactEvery contract): batch_id<=1 collapsed into 1, plus the
    // batch's own partition
    val keyParts = new java.io.File(s"$outDir/_keys").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(keyParts == Seq("batch_id=1", "batch_id=2"), keyParts.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("lmGate drops exactly the frozen-model tail in-stream; a gated doc's later exact dup gates identically") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val root = java.nio.file.Files.createTempDirectory("curate-lmgate").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    // the frozen model: trained ONCE, offline, on the full fixture —
    // the shared warehouse artifact the persisted rows serve
    val tokDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"${sf("sf0.001")}/documents.parquet", "biglm-a1-cd",
      d => graft.operators.TokenizerStore.trainBigramLm(docs, d))
    val maxCe = 3.41
    def pass() = CurateStream.start(spark, s"$inDir/*", outDir, ck,
      lmGate = Some((tokDir, maxCe))).awaitTermination()
    val r = docs.agg(min($"doc_id"), max($"doc_id")).head
    val cut = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    docs.filter($"doc_id" <= cut).coalesce(1).write.parquet(s"$inDir/d0.parquet")
    pass()
    docs.filter($"doc_id" > cut).coalesce(1).write.parquet(s"$inDir/d1.parquet")
    pass()
    val kept = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().toSet
    // expectation: the ungated batch-curation survivors ∩ the frozen
    // model's head+middle buckets (score < maxCe) — computed from the
    // SAME frozen artifact, so this pins the gate's semantics, and the
    // DuckDB oracle (xs_curate_lm_gate) independently pins the values
    val ungated = graft.operators.Curation.curate(docs)
      .select("doc_id").as[Long].collect().toSet
    val lmok = graft.operators.TokenizerStore.scoreBigramLm(docs, tokDir)
      .filter($"cross_entropy" < maxCe).select("doc_id").as[Long].collect().toSet
    assert(kept == (ungated & lmok),
      s"gate mismatch: ${(kept -- (ungated & lmok)).take(5)} extra, " +
        s"${((ungated & lmok) -- kept).take(5)} missing")
    assert((ungated -- lmok).nonEmpty, "fixture should have a non-empty tail bucket")
    // a gated-out doc re-posted verbatim under a NEW id in a later
    // batch: identical normalized text → identical frozen-model score →
    // gated identically (no key-store interaction can admit it, because
    // the original never entered the key store)
    val gatedOut = (ungated -- lmok).min
    val text = docs.filter($"doc_id" === gatedOut).select("text").head.getString(0)
    Seq((999999L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$inDir/d2.parquet")
    pass()
    val kept2 = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == kept, "a dup of a gated-out doc must gate identically")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("dsirGate keeps exactly the frozen-lambda logw >= 0 docs in-stream, both ways exercised") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val root = java.nio.file.Files.createTempDirectory("curate-dsirgate").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    // λ fit ONCE offline on the full fixture (target slice lang=en) —
    // the same warehouse artifact the declared row serves
    val dsirDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"${sf("sf0.001")}/documents.parquet", "dsir-en-a05",
      d => graft.operators.Curation.trainDsir(docs, col("lang") === "en", d))
    def pass() = CurateStream.start(spark, s"$inDir/*", outDir, ck,
      dsirGate = Some((dsirDir, 0.0))).awaitTermination()
    val r = docs.agg(min($"doc_id"), max($"doc_id")).head
    val cut = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    docs.filter($"doc_id" <= cut).coalesce(1).write.parquet(s"$inDir/d0.parquet")
    pass()
    docs.filter($"doc_id" > cut).coalesce(1).write.parquet(s"$inDir/d1.parquet")
    pass()
    val kept = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().toSet
    // expectation from the SAME frozen artifact: ungated batch-curation
    // survivors ∩ {logw >= 0}; the DuckDB oracle (xs_curate_dsir_gate)
    // independently pins the values
    val ungated = graft.operators.Curation.curate(docs)
      .select("doc_id").as[Long].collect().toSet
    val dsok = graft.operators.Curation.dsirScoreWith(
        docs.select($"doc_id", $"text"),
        graft.operators.Curation.loadDsir(spark, dsirDir))
      .filter($"logw" >= 0.0).select("doc_id").as[Long].collect().toSet
    assert(kept == (ungated & dsok),
      s"gate mismatch: ${(kept -- (ungated & dsok)).take(5)} extra, " +
        s"${((ungated & dsok) -- kept).take(5)} missing")
    // the 0.0 cutoff must exercise the gate both ways on the fixture
    assert((ungated -- dsok).nonEmpty, "no doc gated out: threshold degenerate")
    assert((ungated & dsok).nonEmpty, "every doc gated out: threshold degenerate")
    // ulp-at-threshold honesty (ADVICE r16): logw is an ORDER-SENSITIVE
    // float sum, so the cross-engine row-set claim is exact only when
    // no doc sits within summation-noise of the cutoff. Verify the
    // fixture threshold has a real margin from EVERY doc's logw — a
    // fixture/λ change that lands a doc at the knife edge fails here
    // instead of as an unexplained oracle flake.
    val minMargin = graft.operators.Curation.dsirScoreWith(
        docs.select($"doc_id", $"text"),
        graft.operators.Curation.loadDsir(spark, dsirDir))
      .agg(min(abs($"logw" - 0.0))).head.getDouble(0)
    assert(minMargin > 1e-6,
      f"a doc's logw sits $minMargin%.2e from the 0.0 cutoff — within " +
        "float-summation noise; pick a threshold with a verified margin")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("dsir drift telemetry: a drop shifted away from the fit corpus moves " +
      "mean_logw and the gate pass-rate down, with zero extra jobs") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val root = java.nio.file.Files.createTempDirectory("curate-dsirdrift").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val dsirDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"${sf("sf0.001")}/documents.parquet", "dsir-en-a05",
      d => graft.operators.Curation.trainDsir(docs, col("lang") === "en", d))
    def pass() = CurateStream.start(spark, s"$inDir/*", outDir, ck,
      dsirGate = Some((dsirDir, 0.0))).awaitTermination()
    // drop 0: target-like (en) docs; drop 1: the non-target slice — the
    // drifted stream the frozen λ was NOT fit to favor
    docs.filter($"lang" === "en").coalesce(1).write.parquet(s"$inDir/d0.parquet")
    pass()
    docs.filter($"lang" =!= "en").coalesce(1).write.parquet(s"$inDir/d1.parquet")
    pass()
    val stats = spark.read
      .schema("n_scored BIGINT, n_passed BIGINT, sum_logw_e6 BIGINT, " +
        "mean_logw DOUBLE, batch_id BIGINT")
      .json(CurateStream.dsirStatsDirOf(s"$outDir/data"))
      .select($"batch_id", $"n_scored", $"n_passed", $"mean_logw", $"sum_logw_e6")
      .as[(Long, Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(stats.length == 2, s"expected one stats row per batch, got ${stats.toSeq}")
    val Array((_, n0, p0, m0, s0), (_, n1, p1, m1, s1)) = stats
    // the landed human-readable mean must BE the integer carrier's mean
    // (same derivation the declared row uses)
    assert(m0 == s0.toDouble / 1e6 / n0 && m1 == s1.toDouble / 1e6 / n1,
      s"landed mean_logw diverges from sum_logw_e6/n: $stats")
    assert(n0 > 0 && n1 > 0, s"degenerate fixture split: $n0 / $n1 scored")
    assert(m0 > m1,
      f"drifted drop did not move mean_logw: en $m0%.3f vs non-en $m1%.3f")
    assert(p0.toDouble / n0 > p1.toDouble / n1,
      s"drifted drop did not move the pass-rate: $p0/$n0 vs $p1/$n1")
    // replay convergence: re-running the same batch overwrites in place
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  /** Telemetry-determinism audit (VERDICT r17 #1/#2). Every double that
    * reaches a driver-hashed row or a landed stats artifact, with its
    * determinism argument:
    *   - `sum_logw_e6` (CurateStream dsir observe) — Num.sumE6: an
    *     integer Σ round(logw·1e6), order-independent AND
    *     engine-format-proof (VERDICT r18 #1: the driver redded the
    *     davg double twice despite in-sandbox bit-identity, so the
    *     hashed statistic is now an integer; mean_logw derives from it
    *     by the same IEEE division in both engines). THIS test pins
    *     bit-identity across partitioning changes.
    *   - `mean_err` / `max_err` (IndexStore.writeCodesWithStats observe)
    *     — Num.davg / max, both order-independent
    *     (IndexStoreSpec pins bit-identity).
    *   - `mean_quality` (x2_cluster_profile) — Num.davg.
    *   - per-doc `logw` (dsirScoreWith) and `cross_entropy`
    *     (scoreBigramLm) — float sums, but map-local: one doc's
    *     occurrences come from exploding ONE input row through a
    *     broadcast join (no shuffle touches them before the per-doc
    *     agg), so within-engine the summation order is the explode
    *     order, fixed. Cross-engine ulp risk at gate thresholds is
    *     handled by the fixture margin assertions above.
    *   - ingest observe metrics — count + long sum, exact.
    * No driver-hashed row carries a raw unordered float mean. */
  test("dsir drift telemetry lands bit-identical JSON across partitioning " +
      "changes (the r17 flake class)") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val dsirDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"${sf("sf0.001")}/documents.parquet", "dsir-en-a05",
      d => graft.operators.Curation.trainDsir(docs, col("lang") === "en", d))
    def statsJson(nFiles: Int, shuffleParts: String): String = {
      val root = java.nio.file.Files.createTempDirectory("curate-dsirdet").toString
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
        docs.repartition(nFiles).write.parquet(s"$root/in/d0.parquet")
        CurateStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck",
          dsirGate = Some((dsirDir, 0.0))).awaitTermination()
        val p = new org.apache.hadoop.fs.Path(
          s"${CurateStream.dsirStatsDirOf(s"$root/out/data")}/batch_id=0/stats.json")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
      }
    }
    val a = statsJson(nFiles = 1, shuffleParts = "3")
    val b = statsJson(nFiles = 7, shuffleParts = "11")
    assert(a == b,
      s"drift telemetry is partitioning-sensitive:\n  A: $a  B: $b")
    assert(a.contains("\"sum_logw_e6\":") && a.contains("\"mean_logw\":"),
      s"unexpected stats shape: $a")
  }

  test("dsir gate lands a per-doc audit ledger equal to the scored set, and " +
      "unversioned stats files are refused loudly (VERDICT/ADVICE r19)") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, sf("sf0.001"), "documents")
    val root = java.nio.file.Files.createTempDirectory("curate-dsirledger").toString
    val dsirDir = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      s"${sf("sf0.001")}/documents.parquet", "dsir-en-a05",
      d => graft.operators.Curation.trainDsir(docs, col("lang") === "en", d))
    docs.coalesce(1).write.parquet(s"$root/in/d0.parquet")
    CurateStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck",
      dsirGate = Some((dsirDir, 0.0))).awaitTermination()
    val ledger = spark.read
      .schema("doc_id BIGINT, logw_e6 BIGINT, passed INT, batch_id BIGINT")
      .parquet(CurateStream.dsirScoredDirOf(s"$root/out/data"))
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1)
    // single batch ⇒ the scored set IS the ungated batch-curation
    // survivor set; per-doc values are the frozen model's, quantized
    // exactly as the stream quantizes them
    val expect = graft.operators.Curation.dsirScoreWith(
        docs.join(graft.operators.Curation.curate(docs).select("doc_id"),
            Seq("doc_id"), "left_semi")
          .select($"doc_id", $"text"),
        graft.operators.Curation.loadDsir(spark, dsirDir))
      .select($"doc_id", graft.core.Num.e6($"logw").as("e6"),
        when($"logw" >= 0.0, 1).otherwise(0).as("p"))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(ledger.nonEmpty && ledger.map(t => (t._1, t._2, t._3)).toSeq == expect.toSeq,
      s"ledger != scored set: ${ledger.take(3).toSeq} vs ${expect.take(3).toSeq}")
    assert(ledger.forall(_._4 == 0L))
    // the versioned loader accepts the fresh store...
    assert(CurateStream.loadDsirStats(spark, s"$root/out/data").count() == 1)
    // ...and refuses a pre-r20 unversioned stats file instead of
    // reading its telemetry back as silent nulls
    val p = new org.apache.hadoop.fs.Path(
      s"${CurateStream.dsirStatsDirOf(s"$root/out/data")}/batch_id=0/stats.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      """{"n_scored":1,"n_passed":1,"sum_logw_e6":5,"mean_logw":5e-6}""".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalArgumentException] {
      CurateStream.loadDsirStats(spark, s"$root/out/data").count()
    }
    assert(e.getMessage.contains("format version"),
      s"wrong refusal message: ${e.getMessage}")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("xs_dsir_drift batch attribution is data-derived: the drift row " +
      "aggregates the membership ledger's terciles, and every attributed " +
      "batch is the doc's own tercile (VERDICT r20 #1)") {
    import spark.implicits._
    val dir = sf("sf0.001")
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val memb = graft.SparkEntry.queries("xs_dsir_membership")(spark, dir)
      .select($"batch_id", $"doc_id", $"logw_e6", $"passed")
      .as[(Long, Long, Long, Int)].collect()
    assert(memb.nonEmpty)
    // every scored doc's batch IS its tercile — a pure function of the
    // data, so no trigger-counter shift can move it
    val tc = docs.select($"doc_id",
        Drops.terciles(docs).batchId($"doc_id").as("b"))
      .as[(Long, Long)].collect().toMap
    memb.foreach { case (b, id, _, _) =>
      assert(b == tc(id), s"doc $id attributed to batch $b, tercile ${tc(id)}")
    }
    // and the drift row is exactly the ledger's per-tercile aggregation
    // (the bisect invariant the r20 driver run broke)
    val drift = graft.SparkEntry.queries("xs_dsir_drift")(spark, dir)
      .select($"batch_id", $"n_scored", $"n_passed", $"sum_logw_e6")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val expect = memb.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rows) =>
      (b, rows.length.toLong, rows.count(_._4 == 1).toLong, rows.map(_._3).sum)
    }
    assert(drift == expect, s"drift $drift != ledger aggregation $expect")
  }

  /** 50 phrases from a shared 40-phrase pool (100 words): bigrams repeat
    * ACROSS docs, so a bigram LM trained on the corpus scores regular
    * docs low and all-unique gibberish high; distinct phrase orders keep
    * word-5-shingle Jaccard ≈ 0 between unrelated docs. `tweak` replaces
    * one word → a NEAR-dup of the untweaked text (J ≈ 0.9). */
  private def phraseText(seed: Long, tweak: Int = -1): String = {
    val pool = Array.tabulate(40)(p => s"alpha$p beta$p")
    val rnd = new scala.util.Random(seed)
    val words = Array.fill(50)(pool(rnd.nextInt(40))).flatMap(_.split(" "))
    (if (tweak >= 0) words.updated(tweak, s"tweaked${seed}_$tweak") else words)
      .mkString(" ")
  }

  test("startCurateAndPack with every gate armed: a re-posted near-dup is suppressed " +
      "by the cross-batch band store and the packed store equals the gated pool") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curate-gated").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // doc 5 is gibberish (every word unique → unseen bigrams → high
    // cross-entropy); its id's md5 prefix ("e4" ≥ "cd") keeps it OUT of
    // the LM's hash-split train bucket, so training never sees it
    val junk = Array.tabulate(100)(j => s"zq${j}xv${(j * 7) % 13}q$j").mkString(" ")
    val texts = Map(
      1L -> phraseText(1), 2L -> phraseText(2), 3L -> phraseText(3),
      4L -> phraseText(1, tweak = 70), // drop-2 near-dup of doc 1
      5L -> junk,                      // drop-2 LM-gated
      6L -> phraseText(6),
      7L -> phraseText(1, tweak = 90), // drop-3 RE-POSTED near-dup of doc 1
      8L -> phraseText(8))
    val corpusDf = texts.toSeq.sortBy(_._1)
      .map { case (id, t) => doc(id, t) }.toDF(cols: _*)
    // frozen artifacts, trained offline on the full corpus (UUID tags:
    // warehouse artifacts survive across JVMs)
    val srcPath = s"$root/corpus.parquet"
    corpusDf.write.parquet(srcPath)
    val uid = java.util.UUID.randomUUID.toString.take(8)
    val packTok = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      srcPath, s"bpe-$uid",
      d => graft.operators.TokenizerStore.trainBpe(corpusDf, d, 8, 256))
    val lmTok = graft.operators.TokenizerStore.ensureTokenizerFor(spark,
      srcPath, s"lm-$uid",
      d => graft.operators.TokenizerStore.trainBigramLm(corpusDf, d))
    // data-derived gate: the junk doc must be the clear cross-entropy
    // max (and the near-dups must score like their original, i.e. PASS
    // the LM gate — the near-dup stage, not quality, must drop them)
    val scores = graft.operators.TokenizerStore.scoreBigramLm(corpusDf, lmTok)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val regularMax = (scores - 5L).values.max
    assert(scores(5L) > regularMax + 0.2,
      s"fixture bug: junk not separated (junk ${scores(5L)}, regular max $regularMax)")
    val maxCe = (regularMax + scores(5L)) / 2
    assert(scores(4L) < maxCe && scores(7L) < maxCe)

    def drive(n: Int, ids: Seq[Long]): Unit = {
      ids.map(id => doc(id, texts(id))).toDF(cols: _*)
        .write.parquet(s"$inDir/drop$n.parquet")
      CurateStream.startCurateAndPack(spark, s"$inDir/*", outDir, ck, packTok,
        seqLen = 64, maxDupWordFrac = 0.7, nearDupJaccard = Some(0.8),
        lmGate = Some((lmTok, maxCe)), staleWhen = 100.0, staleTpwAbs = 100.0,
        requireOrdered = true).awaitTermination()
    }
    drive(1, Seq(1L, 2L, 3L))
    drive(2, Seq(4L, 5L, 6L)) // near-dup + junk + new, one batch
    drive(3, Seq(7L, 8L))     // the near-dup of doc 1 RE-POSTED two drops later

    // doc 4 dropped cross-batch, doc 5 LM-gated, doc 7 suppressed by the
    // CROSS-BATCH band store (its own batch contains no copy of doc 1 —
    // only the persisted bands can know doc 1's shingles)
    val kept = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 6L, 8L), s"gated survivors wrong: $kept")
    // band store carries exactly the ACCEPTED docs — the suppressed
    // near-dups and the gated junk doc never entered it
    assert(spark.read.parquet(s"$outDir/_bands")
      .select("doc_id").distinct().count() == 5)
    // the packed store equals batch packIds over exactly the gated pool
    // (ordered drops ⇒ stream concatenation order = doc_id order)
    val sel = Seq("seq_id", "n_tokens", "ids").map(col)
    val got = PackStream.packed(spark, s"$outDir/pack")
      .select(sel: _*).orderBy("seq_id").collect().toSeq
    val want = graft.operators.Curation.packIds(
        corpusDf.filter($"doc_id".isin(kept: _*)), packTok, seqLen = 64)
      .select(sel: _*).orderBy("seq_id").collect().toSeq
    assert(got.nonEmpty && got == want,
      s"packed store diverged from the gated pool (${got.size} vs ${want.size} seqs)")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("startCurateAndIndex rebuildWhen: drifted documents rebuild the index from the re-vectorized curated store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curate-drift").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val ixDir = s"$root/ix"
    // finer quantization than the declared loop (the IndexDriftSpec
    // discipline) so quantization noise doesn't mask the drift signal
    val (nlist, m, k, iters) = (16, 16, 16, 2)
    def pass() = CurateStream.startCurateAndIndex(spark, s"$inDir/*", outDir,
      ck, ixDir, nlist = nlist, m = m, k = k, iters = iters,
      rebuildWhen = 10).awaitTermination()
    // batch 0 trains on the fixture's accepted docs (~56 words/doc)
    graft.core.Tables.load(spark, sf("sf0.001"), "documents")
      .coalesce(1).write.parquet(s"$inDir/drop0.parquet")
    pass()
    val man0 = IndexStore.readManifest(spark, ixDir)
    assert(man0.built == 0L && man0.subsumed == 0L)
    // the drifted drop: 30 long all-unique-word docs (pass curation:
    // n_words >> 30, dup_word_frac = 0) whose hashed-count vectors are
    // ~20x the training magnitude — frozen codebooks encode them badly
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val drifted = (0 until 30).map { i =>
      doc(10000L + i, Seq.tabulate(1200)(j => s"zz${i}q$j").mkString(" "))
    }
    drifted.toDF(cols: _*).coalesce(1).write.parquet(s"$inDir/drop1.parquet")
    pass()
    // the tripwire fired and the rebuild subsumed batch 1 — trained on
    // the re-vectorized curated store, not an embeddings glob
    val man1 = IndexStore.readManifest(spark, ixDir)
    assert(man1.subsumed == 1L && man1.built == -1L && man1.codes == Seq(-1L),
      s"document drift did not trigger the in-stream rebuild: $man1")
    def stat(b: Long): Double = spark.read
      .schema("n BIGINT, mean_err DOUBLE, max_err DOUBLE, batch_id BIGINT")
      .json(s"$ixDir/stats").where(col("batch_id") === b)
      .select("mean_err").head.getDouble(0)
    assert(stat(1L) >= 10 * stat(0L),
      s"drifted docs should encode >=10x worse under frozen books: ${stat(1L)} vs ${stat(0L)}")
    assert(stat(-1L) <= stat(1L) / 5,
      s"rebuild did not restore encode quality: ${stat(-1L)} vs ${stat(1L)}")
    // the rebuilt index serves EXACTLY the curated corpus, once each
    val kept = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().toSet
    val served = IndexStore.liveVecIds(spark, ixDir)
      .as[Long].collect().toSeq
    assert(served.toSet == kept && served.distinct.length == served.length,
      s"rebuild must serve the curated corpus exactly once: " +
        s"${served.length} served, ${kept.size} kept")
    assert(drifted.map(_._1).forall(kept.contains), "drifted docs were curated in")
    // replayed append of the subsumed batch (crash between rebuild and
    // checkpoint commit) is a no-op under the subsume watermark
    val hv1 = graft.operators.TextAnalysis.hashVectors(
        spark.read.schema("doc_id BIGINT, text STRING")
          .parquet(s"$outDir/data/batch_id=1"))
      .filter($"l2" > 0)
      .select($"doc_id".as("vec_id"),
        expr("transform(vec, x -> CAST(x AS FLOAT))").as("embedding"))
    IndexStream.maintainWith(spark, ixDir, hv1, 1L, nlist, m, k, iters, 0, 10,
      corpus = () => fail("replay of a subsumed batch must not rebuild"))
    assert(IndexStore.readManifest(spark, ixDir) == man1,
      "replay of a subsumed batch must change nothing")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("tombstoneIndex: curation-rejected docs stop being served by the ANN index; replay converges") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curatetomb").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ck = s"$root/ck"
    val ixDir = s"$root/ix"
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // the ingest-then-curate shape: EVERY incoming doc was indexed as
    // it landed (vec_id ≡ doc_id, the text-tier convention) — curation
    // runs later and must retract its rejects from retrieval
    val allDocs = Seq(
      doc(1, longText(1)), doc(2, longText(2)), doc(3, longText(3)),
      doc(4, "  " + longText(1).toUpperCase + " "), // exact dup of 1
      doc(5, "too short"),                          // quality reject
      doc(6, longText(2)),                          // cross-batch dup of 2
      doc(7, longText(7))).toDF(cols: _*)
    val vecs = allDocs.select($"doc_id".as("vec_id"),
      expr("transform(sequence(1, 8), i -> CAST(sin(doc_id * i) AS FLOAT))")
        .as("embedding"))
    IndexStore.buildIvfPq(vecs, ixDir, nlist = 2, m = 4, k = 4, iters = 1)
    def served(): Set[Long] = IndexStore
      .searchIvfPq(spark, ixDir, vecs, nprobe = 2, topK = 7)
      .select("vec_id").as[Long].collect().toSet
    assert(served() == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))

    allDocs.filter($"doc_id" <= 5).write.parquet(s"$inDir/drop1.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck,
      tombstoneIndex = Some(ixDir)).awaitTermination()
    assert(served() == Set(1L, 2L, 3L, 6L, 7L),
      "batch-0 rejects (dup 4, short 5) must leave retrieval; uncurated 6/7 stay")

    allDocs.filter($"doc_id" > 5).write.parquet(s"$inDir/drop2.parquet")
    CurateStream.start(spark, s"$inDir/*", outDir, ck,
      tombstoneIndex = Some(ixDir)).awaitTermination()
    assert(served() == Set(1L, 2L, 3L, 7L),
      "the cross-batch dup 6 must leave retrieval after batch 1")
    // the curated output and the index agree on the living set
    val kept = spark.read.parquet(s"$outDir/data")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == served(), s"index serves $served but curation kept $kept")

    // replay of batch 1 (crash before the checkpoint commit): the
    // tombstone batch overwrites + re-commits — nothing resurrects,
    // nothing extra dies
    CurateStream.processBatch(allDocs.filter($"doc_id" > 5), 1L,
      s"$outDir/_keys", s"$outDir/data", 30, 0.5,
      tombstoneIndex = Some(ixDir))
    assert(served() == Set(1L, 2L, 3L, 7L), "replay changed the served set")
    // and compaction makes the curation deletes physical without
    // changing what retrieval returns
    IndexStore.compactIvfPq(spark, ixDir)
    assert(served() == Set(1L, 2L, 3L, 7L), "compaction changed the served set")
    assert(IndexStore.readManifest(spark, ixDir).tombstones.isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
